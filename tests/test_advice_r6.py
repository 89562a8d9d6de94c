"""Regression tests for the four round-6 ADVICE findings plus the
round-6 VERDICT gate-hygiene fix (registry ordering / <=50 keys)."""

from __future__ import annotations

import os

import pytest

import __spark_entry__ as entry_mod


def _page_header_bytes(def_enc: int) -> bytes:
    from fastparquet_spark.format import thrift
    from fastparquet_spark.format.metadata import SPECS

    return thrift.write_struct("PageHeader", {
        "type": 0,  # DATA_PAGE
        "uncompressed_page_size": 4,
        "compressed_page_size": 4,
        "data_page_header": {
            "num_values": 1,
            "encoding": 0,  # PLAIN values
            "definition_level_encoding": def_enc,
            "repetition_level_encoding": 3,  # RLE
        },
    }, SPECS)


@pytest.mark.parametrize("bad_enc", [0, 4])  # PLAIN, BIT_PACKED
def test_non_rle_level_encoding_raises(bad_enc):
    """ADVICE r6 #1: ANY non-RLE v1 level encoding must raise — PLAIN
    is not a valid level encoding either, and decoding a PLAIN-stamped
    stream as length-prefixed hybrid is the same silent-garbage class
    as BIT_PACKED."""
    from fastparquet_spark.format.reader import _read_column_chunk

    buf = _page_header_bytes(bad_enc) + b"\x00\x00\x00\x00"
    cmd = {"type": 1, "codec": 0, "num_values": 1, "data_page_offset": 0,
           "dictionary_page_offset": None}
    with pytest.raises(NotImplementedError, match="only RLE levels"):
        _read_column_chunk(buf, cmd, max_def=1)


def test_rle_level_encoding_still_reads():
    """Control for the guard: an RLE-stamped (3) nullable INT64 page
    written by our own writer still round-trips."""
    import pyarrow as pa

    from fastparquet_spark.format.reader import read_file
    from fastparquet_spark.format.writer import write_file
    import tempfile, os

    d = tempfile.mkdtemp()
    p = os.path.join(d, "x.parquet")
    write_file(p, pa.table({"v": pa.array([1, None, 3])}))
    assert read_file(p).column("v").to_pylist() == [1, None, 3]


def test_schema_evolution_conflict_sees_scale_and_logical_type():
    """ADVICE r6 #2: files whose shared column differs only in decimal
    scale (or logical-only annotation) must fail at PLAN time with the
    evolution error, not mid-scan in an Arrow cast."""
    from fastparquet_spark.engine.scan_job import union_leaf_elems

    def meta(elem):
        return {"file": f"f_{id(elem)}.parquet",
                "fmd": {"schema": [{"name": "root", "num_children": 1},
                                   elem]}}

    base = {"name": "d", "type": 2, "converted_type": 5,
            "precision": 10, "scale": 2}
    scale_only = dict(base, scale=3)
    with pytest.raises(ValueError, match="schema evolution type conflict"):
        union_leaf_elems([meta(base), meta(scale_only)])

    ts_us = {"name": "t", "type": 2,
             "logicalType": {"TIMESTAMP": {"isAdjustedToUTC": False,
                                           "unit": {"MICROS": {}}}}}
    ts_ms = {"name": "t", "type": 2,
             "logicalType": {"TIMESTAMP": {"isAdjustedToUTC": False,
                                           "unit": {"MILLIS": {}}}}}
    with pytest.raises(ValueError, match="schema evolution type conflict"):
        union_leaf_elems([meta(ts_us), meta(ts_ms)])
    # identical elements still union fine
    names, elems, present = union_leaf_elems([meta(base), meta(dict(base))])
    assert names == ["d"]


def test_common_root_rejects_cross_bucket_uris():
    """ADVICE r6 #3: s3://a/x + s3://b/y share no bucket; a bare
    's3://' root would produce '/'-prefixed relative paths that read as
    an extra empty partition segment."""
    from fastparquet_spark.io import common_root

    with pytest.raises(ValueError, match="common bucket"):
        common_root(["s3://bucket-a/x.parquet", "s3://bucket-b/y.parquet"])
    # same bucket still fine
    assert common_root(["s3://b/d1/x.parquet", "s3://b/d2/y.parquet"]) \
        == "s3://b"


def test_no_review_jargon_in_raised_messages():
    """ADVICE r6 #4: internal review-round tags must not leak into
    user-facing exception strings."""
    import glob
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "fastparquet_spark")
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    assert files, pkg  # anchored to the repo, not the pytest cwd
    for f in files:
        src = open(f).read()
        for m in re.finditer(r'raise [\w.]+\(\s*(.{0,400}?)\)\n', src,
                             re.S):
            assert not re.search(r"r\d+ (review|#)|review #", m.group(1)), \
                (f, m.group(1)[:120])


def test_registry_fits_driver_gate_and_orders_risk_first():
    """VERDICT r6 #1: the driver records at most 50 correctness rows;
    the registry must have <=50 keys and must not park regression-prone
    operators at the tail (r6 lost sim_neardup_lsh's row this way)."""
    qs = entry_mod.queries()
    assert len(qs) <= 50
    keys = list(qs)
    # engine + LSH/ANN paths sit in the first half; trivial relational
    # queries absorb any future truncation
    for risky in ("engine_fps_scan", "sim_neardup_lsh",
                  "dedup_minhash_lsh_pairs", "engine_roundtrip_hashes"):
        assert keys.index(risky) < len(keys) // 2, risky
    assert keys[-1].startswith("q_")


def test_registry_order_pinned():
    """The registry lists its queries once, in driver-gate order; a
    query added, dropped or moved has to move this pin."""
    from fastparquet_spark.analytics.registry import ORACLES, QUERIES

    assert list(QUERIES) == [
        "engine_roundtrip_hashes", "engine_roundtrip_agg",
        "engine_fps_scan", "engine_paged_scan", "engine_page_read",
        "engine_bloom_prune", "engine_hive_prune", "engine_manifest",
        "engine_snapshot_travel", "engine_dataset_stats",
        "engine_decimal38_roundtrip", "engine_embeddings_roundtrip",
        "sim_neardup_lsh", "sim_neardup_pairs", "sim_ann_ivf",
        "sim_cosine_topk", "sim_lsh_buckets",
        "dedup_minhash_lsh_pairs", "dedup_clusters",
        "dedup_minhash_signatures", "dedup_simhash", "dedup_ngram_jaccard",
        "dedup_exact",
        "text_contamination", "text_pack_sequences", "text_chunk_tokens",
        "text_sample_stratified", "text_redact_pii", "text_langid",
        "text_quality", "text_token_count", "text_fingerprint",
        "mm_binary_meta", "mm_decode_features", "mm_frame_sample",
        "q_dict_codes", "q_rle_runs", "q_delta_stats", "q_cardinality_stats",
        "q1_pricing_summary", "q3_shipping_topk", "q_join_agg_nation",
        "q_window_rank", "q_rollup_pricing", "q_cube_volumes",
        "q_sort_topk", "q_filter_project", "q_column_stats",
        "q_count_filters", "q_partition_values",
    ]
    assert set(QUERIES) == set(ORACLES)

