"""``analytics`` workload: a fixed list of registry queries over Spark's
native parquet scan of the fixed sf0.01 tables (``data/sf0.01``, the
tables the repository's DuckDB correctness tier reads); the seed orders
the list in each pass.  Codecs and format do no work here, so it is the
control that codec changes must leave flat, and it is where Spark-plan
changes show."""

from __future__ import annotations

import hashlib
import math
import os
import random

from harness import MB, median
from layers import codec_layer, format_layer

#: the fixed tables the queries read (lineitem 60k rows), read-only
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
PASSES = 2
PROBE_ROWS = 50_000
QUERIES = ("q1_pricing_summary", "q3_shipping_topk", "q_window_rank",
           "q_rollup_pricing", "dedup_minhash_lsh_pairs", "dedup_simhash",
           "dedup_clusters", "text_redact_pii", "text_chunk_tokens",
           "sim_cosine_topk")
TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")


def value_hash(columns, rows) -> str:
    """Order-independent hash of a result: columns by name, floats to
    nine decimals, rows sorted."""
    cols = sorted(columns)
    idx = [list(columns).index(c) for c in cols]
    norm = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else round(v, 9)
            vals.append(v)
        norm.append(repr(tuple(vals)))
    norm.sort()
    return hashlib.sha256(repr((cols, norm)).encode()).hexdigest()


def run(bench, ctx) -> dict:
    import duckdb
    import pyarrow.parquet as pq

    from fastparquet_spark.analytics.registry import ORACLES
    from fastparquet_spark.analytics.registry import QUERIES as REGISTRY
    from harness import SparkStatus

    tracer = bench.tracer
    with tracer.span("setup.spark"):
        spark = ctx.start_spark()
    if bench.trace:
        bench.status = SparkStatus(spark)
    files = [os.path.join(SF_DIR, f"{t}.parquet") for t in TABLES]
    with tracer.span("setup.inputs"):
        in_bytes = sum(pq.read_table(f).nbytes for f in files)
    stored = sum(os.path.getsize(f) for f in files)
    rng = random.Random(ctx.seed)
    results: list[tuple[str, str]] = []

    def execute(q):
        df = REGISTRY[q](spark, SF_DIR)
        return df.columns, df.collect()

    def recorder(q):
        def record(result):
            results.append((q, value_hash(*result)))
        return record

    def run_pass(_i):
        order = list(QUERIES)
        rng.shuffle(order)
        for q in order:
            bench.op(q, f"analytics.{q}", lambda q=q: execute(q), recorder(q))

    bench.warm_up(run_pass)
    ctx.setup_done()
    bench.passes(run_pass, min_passes=PASSES)

    # each execution's value hash against the DuckDB oracle, after the
    # timed passes (the oracle is not the system under test)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(SF_DIR, t + '.parquet')}'")
    oracle = {}
    for q in QUERIES:
        res = con.sql(ORACLES[q])
        oracle[q] = value_hash(res.columns, res.fetchall())
    con.close()
    for q, h in results:
        if h != oracle[q]:
            bench.fail(q, "value hash differs from the DuckDB oracle")

    out = {
        "stored_ratio": stored / in_bytes,
        "report": [("suite_s", median(bench.pass_s), "s", len(bench.pass_s))]
        + [(f"{q}_s", bench.op_median(q), "s", len(bench.op_secs[q])) for q in QUERIES]
        + [("input_mb", in_bytes / MB, "MB", 0)],
        "spark_ops": {q: q for q in QUERIES},
        "layers": {f"analytics.{q}_s": bench.op_median(q) for q in QUERIES},
    }
    if bench.trace:
        layers = out["layers"]
        layers.update(codec_layer(tracer, pq.read_table(os.path.join(SF_DIR, "documents.parquet"))))
        lineitem = pq.read_table(os.path.join(SF_DIR, "lineitem.parquet"))
        layers.update(format_layer(tracer, bench, lineitem.slice(0, PROBE_ROWS)))
    return out
