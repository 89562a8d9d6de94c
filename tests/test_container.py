"""FPSC own-format container round-trips (the FSST internal path,
SURVEY.md §7.4 dual-mode column container)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from fastparquet_spark.engine.datagen import synthetic_arrow_table
from fastparquet_spark.format.container import read_container, write_container


def _assert_equal(expected: pa.Table, got: pa.Table):
    for name in expected.column_names:
        a = expected.column(name).combine_chunks()
        b = got.column(name).combine_chunks().cast(a.type)
        pd.testing.assert_series_equal(a.to_pandas(), b.to_pandas(),
                                       check_names=False, obj=name)


def test_container_roundtrip_source_table(tmp_path):
    tbl = synthetic_arrow_table(4000, seed=3)
    path = str(tmp_path / "t.fpsc")
    blocks = write_container(path, tbl, compression="ZSTD")
    _assert_equal(tbl, read_container(path))
    by_name = {b.name: b for b in blocks}
    # FSST must win on the code-like content column
    assert by_name["content"].codec == "fsst"
    assert by_name["content"].enc_bytes < by_name["content"].raw_bytes / 4


def test_container_beats_plain_zstd_parquet(tmp_path):
    """The container's best-of (plain+zstd vs FSST vs FSST+zstd) must not
    lose to our parquet writer on the same data."""
    from fastparquet_spark.format import write_file
    tbl = synthetic_arrow_table(4000, seed=3)
    c = str(tmp_path / "t.fpsc")
    p = str(tmp_path / "t.parquet")
    write_container(c, tbl, compression="ZSTD")
    write_file(p, tbl, compression="ZSTD")
    assert os.path.getsize(c) <= os.path.getsize(p) * 1.05


def test_container_nulls_and_types(tmp_path, rng):
    n = 1500
    tbl = pa.table({
        "s": pa.array([None if rng.random() < 0.1 else f"txt {i % 37} blah blah"
                       for i in range(n)]),
        "i_sorted": pa.array(
            [None if rng.random() < 0.05 else int(x)
             for x in np.sort(rng.integers(0, 10**9, n))], pa.int64()),
        "i32": pa.array(rng.integers(-100, 100, n), pa.int32()),
        "f32": pa.array(rng.normal(size=n).astype(np.float32)),
        "f64": pa.array(rng.normal(size=n)),
        "bo": pa.array(rng.integers(0, 2, n).astype(bool)),
        "ts": pa.array(rng.integers(10**15, 2 * 10**15, n), pa.timestamp("us")),
    })
    path = str(tmp_path / "t.fpsc")
    blocks = write_container(path, tbl)
    _assert_equal(tbl, read_container(path))
    assert {b.name: b.codec for b in blocks}["i_sorted"] == "delta"


def test_container_empty_and_garbage(tmp_path):
    tbl = pa.table({"a": pa.array([], pa.int64()), "s": pa.array([], pa.string())})
    path = str(tmp_path / "e.fpsc")
    write_container(path, tbl)
    got = read_container(path)
    assert got.num_rows == 0 and got.column_names == ["a", "s"]
    with pytest.raises(ValueError):
        read_container(b"garbage not a container")


def test_fpsc_distributed_roundtrip(spark, tmp_path):
    """Full internal path: salted encode to FPSC containers (FSST on
    content), distributed decode, per-row sha256 equality vs source."""
    from pyspark.sql import functions as F

    from fastparquet_spark.engine import synthetic_source_table
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc, read_fpsc

    out = str(tmp_path / "fpsc")
    # >=2000 rows per container: below that zstd-over-plain legitimately
    # beats FSST on this corpus and the best-of selection picks plain
    src = synthetic_source_table(spark, 5000, partitions=2).cache()
    m1 = encode_dataset_fpsc(spark, src, out, num_partitions=2).collect()
    assert sum(r["rows"] for r in m1) == 5000
    import json as _json
    codecs_used = set()
    for r in m1:
        codecs_used.update(_json.loads(r["columns"]).values())
    assert "fsst" in codecs_used  # content must pick FSST on code text
    back = read_fpsc(spark, out)
    assert back.count() == 5000
    a = src.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    b = back.select(F.sha2("content", 256).alias("h")).groupBy("h").count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # resume: replay skips
    m2 = encode_dataset_fpsc(spark, src, out, num_partitions=2).collect()
    assert all(r["skipped"] for r in m2)
    src.unpersist()


def test_fpsc_chunked_streaming_and_resume(spark, tmp_path):
    """Containers flush per rows_per_container (bounded task memory),
    FSST tables are trained once per column per task, and resume replays
    the multi-file manifest."""
    import glob

    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc, read_fpsc

    df = spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", "c", "python",
          f"some repeated source body {i % 40}\n" * 5) for i in range(4000)],
        "repo string, path string, commit string, lang string, content string")
    out = str(tmp_path / "fpsc")
    man = encode_dataset_fpsc(spark, df, out, num_partitions=2,
                              salt_rows=10**9, rows_per_container=600).collect()
    assert sum(m.rows for m in man) == 4000
    files = glob.glob(f"{out}/part-*.fpsc")
    assert len(files) >= 4  # ~2000 rows/task at 600/container
    back = read_fpsc(spark, out)
    assert back.count() == 4000
    man2 = encode_dataset_fpsc(spark, df, out, num_partitions=2,
                               salt_rows=10**9, rows_per_container=600).collect()
    assert all(m.skipped for m in man2) and sum(m.rows for m in man2) == 4000


def test_fpsc_job_uri_and_footer_only_probe(spark, tmp_path, monkeypatch):
    """The FPSC job runs end-to-end through the fs seam on a file://
    URI (same contract as s3://), and read_fpsc's driver-side plan
    reads ONLY the containers' footers — proved by byte counting —
    never a data block."""
    import glob as _glob
    import os

    from fastparquet_spark import io as fio
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc, read_fpsc

    df = spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", "c", "python",
          f"uri seam body {i % 20}\n" * 4) for i in range(1500)],
        "repo string, path string, commit string, lang string, content string")
    out = str(tmp_path / "fpsc_uri")
    man = encode_dataset_fpsc(spark, df, "file://" + out, num_partitions=2,
                              salt_rows=10**9).collect()
    assert sum(m.rows for m in man) == 1500
    back = read_fpsc(spark, "file://" + out)
    assert back.count() == 1500

    files = sorted(_glob.glob(f"{out}/part-*.fpsc"))
    flens = []
    for p in files:
        with open(p, "rb") as f:
            f.seek(os.path.getsize(p) - 8)
            flens.append(int.from_bytes(f.read(4), "little"))
    counting = fio.CountingFS(fio.LocalFS())
    monkeypatch.setattr(fio, "get_fs", lambda path, fs=None: fs or counting)
    probed = read_fpsc(spark, out)  # plan only: it runs driver-side
    assert set(probed.columns) == set(df.columns)
    # per container the 8-byte tail + the JSON footer with its tail,
    # never the data blocks
    budget = sum(flen + 16 for flen in flens)
    assert 0 < counting.bytes_read <= budget, \
        f"plan read {counting.bytes_read} bytes; footers are {budget}"


def test_container_column_projection_is_ranged(tmp_path):
    """read_container(columns=) fetches ONLY the projected columns'
    byte spans + the footer (byte-counted), and the values equal the
    full read's."""
    import os

    import pyarrow as pa

    from fastparquet_spark import io as fio
    from fastparquet_spark.format.container import (
        read_container, read_container_footer, write_container,
    )

    t = pa.table({
        "id": pa.array(range(5000)),
        "content": pa.array([f"payload body {i % 97} " * 20
                             for i in range(5000)]),
        "lang": pa.array([["py", "rs"][i % 2] for i in range(5000)]),
    })
    path = str(tmp_path / "proj.fpsc")
    write_container(path, t, compression="ZSTD")
    full = read_container(path)

    counting = fio.CountingFS(fio.LocalFS())
    got = read_container(path, fs=counting, columns=["lang", "id"])
    assert got.column_names == ["lang", "id"]  # projection order kept
    assert got.column("id").to_pylist() == full.column("id").to_pylist()
    assert got.column("lang").to_pylist() == full.column("lang").to_pylist()
    meta = read_container_footer(path)
    sizes = {cm["name"]: cm["size"] for cm in meta["columns"]}
    with open(path, "rb") as f:
        f.seek(os.path.getsize(path) - 8)
        flen = int.from_bytes(f.read(4), "little")
    # exact IO budget: footer tail + exactly the two projected columns'
    # spans — the content column's bytes are never touched
    assert counting.bytes_read <= flen + 16 + sizes["lang"] + sizes["id"], \
        f"read {counting.bytes_read}; budget {flen + 16 + sizes['lang'] + sizes['id']}"
    import pytest as _pt

    with _pt.raises(KeyError):
        read_container(path, columns=["nope"])


def test_read_fpsc_projection(spark, tmp_path):
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc, read_fpsc

    df = spark.createDataFrame(
        [(f"r{i % 3}", f"p{i}", "c", "python", f"text {i % 13} " * 30)
         for i in range(3000)],
        "repo string, path string, commit string, lang string, content string")
    out = str(tmp_path / "fpsc_proj")
    encode_dataset_fpsc(spark, df, out, num_partitions=2,
                        salt_rows=10**9).collect()
    got = read_fpsc(spark, out, columns=["repo", "path"])
    assert got.columns == ["repo", "path"]
    assert got.count() == 3000
    assert got.selectExpr("count(distinct repo)").collect()[0][0] == 3


def test_container_list_columns_roundtrip(tmp_path):
    """LIST columns in the own-format container: row validity +
    delta-coded lengths + child validity + plain child values —
    null rows / empty lists / null elements all survive, and ranged
    projection works on list columns too."""
    t = pa.table({
        "id": pa.array(range(6)),
        "emb": pa.array([[1.0, 2.0, 3.0], None, [], [4.5], [None, 6.0],
                         [7.0, 8.0]], type=pa.list_(pa.float32())),
        "nums": pa.array([[1, 2], [3], None, [], [5, None, 7], [8]],
                         type=pa.list_(pa.int64())),
    })
    path = str(tmp_path / "lists.fpsc")
    blocks = write_container(path, t, compression="ZSTD")
    assert {b.name: b.codec for b in blocks}["emb"] == "list"
    got = read_container(path)
    for c in t.column_names:
        assert got.column(c).combine_chunks().cast(
            t.schema.field(c).type).to_pylist() == t.column(c).to_pylist(), c
    pr = read_container(path, columns=["nums"])
    assert pr.column("nums").to_pylist() == t.column("nums").to_pylist()


def test_fpsc_job_embeddings_table(spark):
    """The distributed FPSC path handles the embeddings table
    (array<float>) end to end with per-vector exactness."""
    from pyspark.sql import functions as F

    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc, read_fpsc

    import tempfile

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = tempfile.mkdtemp(prefix="fpsc_emb_")
    m = encode_dataset_fpsc(spark, emb, out, num_partitions=2,
                            salt_rows=10**9).collect()
    assert sum(r["rows"] for r in m) == emb.count()
    back = read_fpsc(spark, out)
    key = lambda df: df.select(F.md5(F.concat_ws(",", F.col("vec_id"),
        F.concat_ws("|", F.transform("embedding",
            lambda x: F.format_number(x.cast("double"), 6))))).alias("h"))
    a, b = key(emb), key(back)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_container_bloom_write_probe_and_prune(tmp_path):
    """Container bloom filters: data unaffected, footer records the
    span, probe gives definite negatives for absent point values on
    string and int columns — and the scan planner behind the data
    source uses them to prune whole containers where min/max stats
    cannot discriminate."""
    import numpy as np

    from fastparquet_spark.format.container import (
        FpscFormat, read_container, read_container_footer,
    )
    from fastparquet_spark.sources.fps_source import FpsReader

    def kept(clause):
        """The containers the data source's planner keeps."""
        r = FpsReader(str(tmp_path), None, fmt=FpscFormat)
        r._clauses = clause
        return [u[0] for p in r.partitions() for u in p.value[1]]

    rng = np.random.default_rng(5)
    files = []
    all_commits = []
    for fi in range(3):
        commits = [f"{h:040x}" for h in rng.integers(0, 1 << 62, 2000)]
        all_commits.append(commits)
        t = pa.table({"commit": pa.array(commits),
                      "v": pa.array(range(fi * 2000, fi * 2000 + 2000))})
        p = str(tmp_path / f"part-{fi}.fpsc")
        write_container(p, t, bloom_filters={"commit": 0.01, "v": True})
        files.append(p)
    # data unaffected by the appended bloom sections
    assert read_container(files[0]).column("commit").to_pylist() == \
        all_commits[0]
    meta = read_container_footer(files[0])
    cm = {m["name"]: m for m in meta["columns"]}
    assert cm["commit"]["bloom_bytes"] > 0 and cm["v"]["bloom_bytes"] > 0
    present = all_commits[0][777]
    absent = all_commits[0][0][:-4] + "beef"
    assert files[0] in kept([("commit", "==", present)])
    # DataSource pruning: a commit present in file 1 only keeps file 1;
    # min/max stats alone cannot do this (random hashes span the range)
    assert kept([("commit", "==", all_commits[1][5])]) == [files[1]]
    assert kept([("commit", "==", absent)]) == []
    # int bloom through 'in'
    assert kept([("v", "in", [4100, 10**9])]) == [files[2]]


def test_codec_decisions_skip_dual_trial_and_stay_readable():
    """r4 verdict #9: driver-side sampled decisions pin the string codec
    so tasks run only the winning path; a pinned container must decode
    identically and record the pinned codec."""
    import io as _io

    from fastparquet_spark.format.container import (
        decide_string_codecs, read_container, write_container,
    )

    n = 5_000
    t = pa.table({
        "content": pa.array(["def fn_%d():\n    return %d\n" % (i, i * 3)
                             for i in range(n)]),
        "rand": pa.array([hashlib_md5_hex(i) for i in range(n)]),
        "k": pa.array(range(n)),
    })
    cache: dict = {}
    dec = decide_string_codecs(t.slice(0, 500), cache)
    assert set(dec) == {"content", "rand"}
    assert all(v in ("fsst", "plain") for v in dec.values())
    # pin BOTH codecs explicitly so both skip paths are exercised
    dec = {"content": "fsst", "rand": "plain"}
    buf = _io.BytesIO()
    blocks = write_container(buf, t, fsst_cache=cache, codec_decisions=dec)
    by = {b.name: b.codec for b in blocks}
    assert by["content"] == "fsst" and by["rand"] == "plain"
    buf.seek(0)
    import tempfile as _tf

    with _tf.NamedTemporaryFile(suffix=".fpsc", delete=False) as fh:
        fh.write(buf.getvalue())
        path = fh.name
    back = read_container(path)
    assert back.column("content").to_pylist() == \
        t.column("content").to_pylist()
    assert back.column("rand").to_pylist() == t.column("rand").to_pylist()


def hashlib_md5_hex(i: int) -> str:
    import hashlib

    return hashlib.md5(str(i).encode()).hexdigest()


def test_list_timestamp_units_roundtrip(tmp_path):
    """(r6 review #1 — confirmed corruption) list<timestamp[ms|ns]>
    children keep their NATIVE unit; the µs cast re-labeled values
    1000x off on read."""
    import pyarrow as pa

    from fastparquet_spark.format.container import read_container, write_container

    t = pa.table({
        "ms": pa.array([[1_700_000_000_000], None, []],
                       pa.list_(pa.timestamp("ms"))),
        "ns": pa.array([[1_700_000_000_000_000_123], [1, 2], None],
                       pa.list_(pa.timestamp("ns"))),
    })
    p = str(tmp_path / "ts.fpsc")
    write_container(p, t)
    back = read_container(p)
    assert back.column("ms").to_pylist() == t.column("ms").to_pylist()
    assert back.column("ns").to_pylist() == t.column("ns").to_pylist()


def test_zone_aware_timestamps_roundtrip(tmp_path):
    """Timestamps with a time zone (what Spark's ``TimestampType``
    batches carry) keep their zone and values, as columns and as list
    members, with every unit; a stats-pruned read filters on them."""
    import datetime

    import pyarrow as pa

    from fastparquet_spark.engine.scan_job import plan_scan
    from fastparquet_spark.format.container import (
        FpscFormat, read_container, read_container_footer, write_container,
    )
    from fastparquet_spark.format.dataset import load_dataset_metas

    utc = datetime.timezone.utc
    t = pa.table({
        "utc_us": pa.array([1_700_000_000_000_000, None, 0],
                           pa.timestamp("us", tz="UTC")),
        "la_ms": pa.array([1_700_000_000_000, 5, None],
                          pa.timestamp("ms", tz="America/Los_Angeles")),
        "etc_ns": pa.array([None, 1, 2], pa.timestamp("ns", tz="Etc/UTC")),
        "plus_s": pa.array([1, 2, 3], pa.timestamp("s", tz="+05:30")),
        "list_utc": pa.array([[1, None], None, []],
                             pa.list_(pa.timestamp("us", tz="UTC"))),
    })
    p = str(tmp_path / "tz.fpsc")
    write_container(p, t)
    back = read_container(p)
    assert back.schema == t.schema
    assert back.equals(t)
    footer = read_container_footer(p)
    assert [c["arrow_type"] for c in footer["columns"]] == [
        "timestamp[us, tz=UTC]", "timestamp[ms, tz=America/Los_Angeles]",
        "timestamp[ns, tz=Etc/UTC]", "timestamp[s, tz=+05:30]",
        "list<item: timestamp[us, tz=UTC]>"]
    # stats pruning compares an aware datetime with the zoned bounds
    def after(year):
        return [[("utc_us", ">", datetime.datetime(year, 1, 1, tzinfo=utc))]]

    root, metas = load_dataset_metas(str(tmp_path), fmt=FpscFormat)
    assert [len(plan_scan(root, metas, after(y), ["utc_us"],
                          fmt=FpscFormat)[3]) for y in (2000, 2024)] == [1, 0]
    got = pa.concat_tables(FpscFormat.read(p, [0], after(2000), ["utc_us"],
                                           True))
    assert got.column("utc_us").to_pylist() == \
        [datetime.datetime(2023, 11, 14, 22, 13, 20, tzinfo=utc)]


def test_container_rejects_nested_lists_and_bad_bytes(tmp_path):
    import pyarrow as pa
    import pytest as _pt

    from fastparquet_spark.format.container import (
        read_container_footer, write_container,
    )

    with _pt.raises(ValueError, match="lists of primitives"):
        write_container(str(tmp_path / "x.fpsc"), pa.table({
            "ll": pa.array([[[1]]], pa.list_(pa.list_(pa.int64())))}))
    with _pt.raises(ValueError, match="FPSC"):
        read_container_footer(b"PAR1 not a container PAR1")


def test_decided_codecs_equal_the_undecided_trial():
    """``decide_string_codecs`` runs the trial ``write_container`` runs
    on an undecided string column: on one table, each column's decision
    is the codec ``write_container`` picks for it undecided."""
    import io as _io

    import numpy as np

    from fastparquet_spark.format.container import (
        decide_string_codecs, write_container,
    )

    n = 4000
    rng = np.random.default_rng(3)
    t = pa.table({
        "code": pa.array(["def fn_%d(x):\n    return x * %d\n" % (i, i)
                          for i in range(n)]),
        "hex": pa.array([hashlib_md5_hex(i) for i in range(n)]),
        "words": pa.array([f"w{x % 7}" for x in rng.integers(0, 99, n)],
                          mask=rng.random(n) < 0.2),
        "blob": pa.array([bytes(rng.integers(0, 256, 12, np.uint8))
                          for _ in range(n)]),
        "k": pa.array(range(n)),
    })
    dec = decide_string_codecs(t, {})
    picked = {b.name: b.codec for b in write_container(_io.BytesIO(), t)}
    assert sorted(dec) == ["blob", "code", "hex", "words"]
    assert dec == {c: picked[c] for c in dec}
    assert set(dec.values()) == {"fsst", "plain"}
