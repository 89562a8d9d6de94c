"""Physical-plan assertions: the 100-TB properties the queries claim
(pushdown, broadcast, top-k, no cartesian blowup, chunked windows) must
be visible in the executed plan, not just implied by fast local runs.
These are regression guards — a refactor that silently turns a
broadcast join into a shuffle join or drops a pushed filter fails here.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from fastparquet_spark.analytics import dedup, relational, similarity

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def test_filter_and_projection_reach_the_scan(spark):
    p = plan_of(relational.q_filter_project(spark, SF))
    assert "PushedFilters" in p and "l_quantity" in p.split("PushedFilters", 1)[1]
    # projection pruning: the scan reads only the referenced columns
    read = p.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_quantity" in read and "l_discount" in read
    assert "l_comment" not in read and "l_extendedprice" not in read


def test_topk_uses_take_ordered_not_full_sort(spark):
    p = plan_of(relational.q_sort_topk(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_dim_joins_are_broadcast(spark):
    p = plan_of(relational.q3_shipping_topk(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    p2 = plan_of(relational.q_join_agg_nation(spark, SF))
    assert p2.count("BroadcastHashJoin") >= 2  # nation AND region
    assert "SortMergeJoin" not in p2


def test_agg_is_partial_then_final(spark):
    p = plan_of(relational.q1_pricing_summary(spark, SF))
    assert p.count("HashAggregate") >= 2  # map-side combine + final


def test_rle_runs_window_is_chunk_partitioned(spark):
    """The run-detection window must shuffle by chunk (parallel), never
    a single global ordering over the full events table.  The only
    SinglePartition exchange allowed is the tiny per-chunk last-value
    table (one row per 65536-id range)."""
    p = plan_of(relational.q_rle_runs(spark, SF))
    assert "hashpartitioning(chunk" in p


def test_lsh_pairs_no_cartesian_product(spark):
    p = plan_of(dedup.dedup_minhash_lsh_pairs(spark, SF))
    assert "CartesianProduct" not in p


def test_cosine_topk_broadcasts_the_query_vector(spark):
    p = plan_of(similarity.sim_cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in p  # 1-row broadcast, not shuffle
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p


def test_exact_dedup_single_shuffle(spark):
    p = plan_of(dedup.dedup_exact(spark, SF))
    # one hash shuffle on the digest; partial agg before it
    # (formatted mode lists each node once in the details as "(N) Exchange")
    assert p.count(") Exchange") == 1 and "hashpartitioning(h" in p
    assert p.count("HashAggregate") >= 2


def test_minhash_signatures_single_shuffle(spark):
    """After dropping the seeds crossJoin and the shingle dedup, the
    signature pipeline is scan -> explode -> partial min x8 -> ONE
    exchange -> final min -> unpivot."""
    p = plan_of(dedup.dedup_minhash_signatures(spark, SF))
    assert p.count(") Exchange") == 1
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_neardup_lsh_joins_on_bucket(spark):
    """Candidate generation must join on the LSH bucket (co-locatable),
    never a cartesian or broadcast-nested-loop pair explosion — and
    bucket membership must be BOUNDED (the rank-window cap) so the
    per-bucket self-join cannot go quadratic in corpus size."""
    p = plan_of(similarity.sim_neardup_lsh(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "bucket" in p
    # the membership bound: a row_number window partitioned by bucket
    # feeding a rn <= MAX_LSH_BUCKET filter on BOTH join sides
    assert "row_number()" in p and "partitionbucket" in p.replace(" ", "") \
        or "hashpartitioning(bucket" in p
    assert f"<= {similarity.MAX_LSH_BUCKET}" in p


def test_neardup_lsh_cap_binds(spark):
    """With max_bucket=1 no bucket keeps two members, so zero candidate
    pairs survive — proves the cap actually gates the join input."""
    assert similarity.sim_neardup_lsh(spark, SF, max_bucket=1).count() == 0


def test_encode_dataset_single_shuffle(spark):
    """The encode job's one-shuffle claim, pinned: the task input is fed
    by exactly ONE repartition Exchange (partition cols + salt), the
    skewed-key salt counts arrive by BroadcastHashJoin (never a
    SortMergeJoin), and the only other Exchange is the count aggregate
    feeding that broadcast."""
    import tempfile

    from fastparquet_spark.engine import encode_dataset

    docs = relational.load(spark, SF, "documents")
    df = encode_dataset(spark, docs, tempfile.mkdtemp(prefix="fps_plan_"),
                        partition_cols=("lang",), num_partitions=4,
                        resume=False)
    p = plan_of(df)
    assert "MapInArrow" in p
    assert p.count("REPARTITION_BY_NUM") == 1
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    assert p.count(") Exchange") == 2  # repartition + salt-count agg
    # the salt-count scan reads ONLY the key column.  (No IsNotNull
    # pushdown anymore — the join is eqNullSafe by design, so a skewed
    # NULL key is salted too, r6 review #4.)
    assert "ReadSchema: struct<lang:string>" in p


def test_neardup_lsh_no_count_job_at_build(spark, monkeypatch):
    """r4 What's-wrong #3: n_bits derivation must come from parquet
    footers (metadata), never a scheduled df.count() job — at 100 TB
    that's a full scan stage before the query even starts."""
    from pyspark.sql import DataFrame

    from fastparquet_spark.analytics.similarity import sim_neardup_lsh

    def boom(self):
        raise AssertionError("query construction ran a Spark count() job")

    monkeypatch.setattr(DataFrame, "count", boom)
    df = sim_neardup_lsh(spark, "/root/testdata/sf0.001")  # builds the plan
    monkeypatch.undo()
    assert df.count() >= 0  # and it still executes


def test_fps_source_scan_is_pruned_by_catalyst(spark, tmp_path):
    """The 'fps' data source's pruning is driven by CATALYST, visible
    in the executed plan: the scan appears as a BatchScan node with an
    exact Filter above it (the source yields a page-granular superset),
    and a pushed predicate shrinks the number of input partitions —
    which can only happen if pushFilters -> partitions() pruning ran
    during planning (PushedFilters text is not rendered for Python
    sources, so partition count is the observable)."""
    import pyarrow as pa

    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.sources import FpsDataSource

    d = tmp_path / "fps"
    d.mkdir()
    for i in range(4):
        write_file(str(d / f"p{i}.parquet"),
                   pa.table({"k": pa.array(range(i * 1000, (i + 1) * 1000))}),
                   row_group_rows=500)
    spark.dataSource.register(FpsDataSource)
    base = spark.read.format("fps").load(str(d))
    assert base.rdd.getNumPartitions() == 4  # one unit per file
    filtered = spark.read.format("fps").load(str(d)).filter("k >= 3500")
    p = plan_of(filtered)
    assert "BatchScan fps" in p
    assert "Filter" in p  # Spark keeps exactness over the superset
    assert filtered.rdd.getNumPartitions() == 1  # 3 of 4 files pruned
    assert filtered.count() == 500


def test_ann_ivf_centroids_no_generate(spark):
    """Centroid building must stay one-row-per-vector: no Generate
    (posexplode) node anywhere in the IVF plan — the 64x row
    amplification it caused was the stage hot spot at 10^9 vectors."""
    p = plan_of(similarity.sim_ann_ivf(spark, SF))
    assert "Generate" not in p


@pytest.mark.parametrize("query", [
    "text_langid", "text_quality", "text_token_count", "text_fingerprint",
    "text_chunk_tokens", "text_redact_pii", "sim_cosine_topk", "sim_ann_ivf",
    "dedup_minhash_lsh_pairs", "dedup_simhash"])
def test_analytics_scans_are_not_repartitioned(spark, query):
    """No analytics query hash-repartitions its scan before the map
    stage: the former fan-out of small scans won a same-window A/B at
    none of these sites at both local[4] and local[32] (BENCH.md)."""
    from fastparquet_spark.analytics.registry import QUERIES

    plan = QUERIES[query](spark, SF)._jdf.queryExecution().optimizedPlan()
    assert "RepartitionByExpression" not in plan.toString()


def test_contamination_broadcasts_benchmark(spark):
    """The benchmark shingle set is small by construction — the
    membership join must broadcast it (corpus stays map-side)."""
    from fastparquet_spark.analytics import text

    p = plan_of(text.text_contamination(spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_pack_sequences_window_is_sharded(spark):
    """Sequence packing's running sum is partitioned by (lang, shard)
    — never a global single-task window."""
    from fastparquet_spark.analytics import text

    import re

    p = plan_of(text.text_pack_sequences(spark, SF))
    assert re.search(r"windowspecdefinition\(lang#\d+, shard#\d+", p)


def _engine_job(spark, job: str, d):
    """A small input for ``job`` under ``d`` and the job's DataFrame."""
    import pyarrow as pa

    from fastparquet_spark.engine import encode_files, paged_read
    from fastparquet_spark.engine.file_job import encode_files_fpsc
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.format.container import write_container
    from fastparquet_spark.format.writer import write_file

    src = d / "src"
    src.mkdir()
    for i in range(2):
        tbl = pa.table({"k": pa.array(range(i * 100, (i + 1) * 100)),
                        "s": pa.array([f"v{j % 7}" for j in range(100)])})
        write_file(str(src / f"p{i}.parquet"), tbl, row_group_rows=50)
        write_container(str(src / f"c{i}.fpsc"), tbl)
    out = str(d / "out")
    if job == "encode_files":
        return encode_files(spark, str(src), out, rows_per_task=50, resume=False)
    if job == "encode_files_fpsc":
        return encode_files_fpsc(spark, str(src), out, rows_per_task=50,
                                 resume=False)
    if job == "read_fpsc":
        return read_fpsc(spark, str(src))
    return paged_read(spark, str(src), [("k", ">=", 120)])


@pytest.mark.parametrize("job", ["encode_files", "encode_files_fpsc",
                                 "read_fpsc", "paged_read"])
def test_engine_task_table_is_built_on_the_jvm(spark, tmp_path, job):
    """The engine jobs' tasks are partitions of a JVM ``Range``, never
    of a Python RDD: a ``Scan ExistingRDD`` under the ``MapInArrow``
    costs every task a second Python worker that only unpickles the
    task's rows, and a broadcast of the rows costs a second job."""
    p = plan_of(_engine_job(spark, job, tmp_path))
    assert "MapInArrow" in p and "Range" in p
    assert "Scan ExistingRDD" not in p
    assert "Exchange" not in p
