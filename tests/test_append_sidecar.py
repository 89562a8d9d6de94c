"""Dataset append + `_metadata` sidecar (reference writer.py:773-807
append, :1156-1193 merge):

- write_metadata_sidecar merges every part footer with file_path set;
- load_dataset_metas reads the WHOLE dataset's metadata from that one
  file (proved by open/read counting);
- append_dataset adds a new generation, re-merges the sidecar, and
  statistics reflect old+new;
- incompatible schemas are rejected before any file is written.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest

from fastparquet_spark.format.dataset import (
    dataset_statistics,
    filter_row_groups,
    load_dataset_metas,
    write_metadata_sidecar,
)
from fastparquet_spark.io import CountingFS, LocalFS


def _df(spark, lo, hi):
    rows = [(f"org/repo{i % 5}", f"src/f{i}.py", f"c{i:040d}",
             ["python", "rust", "go"][i % 3], f"def f{i}(): pass\n")
            for i in range(lo, hi)]
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string")


def test_sidecar_single_fetch_and_equal_stats(spark, tmp_path):
    from fastparquet_spark.engine import encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 4000), out, num_partitions=3,
                   salt_rows=10**9, sort_within=("path",)).collect()
    st_walk = dataset_statistics(out)  # no sidecar yet: per-file footers
    n_rg = write_metadata_sidecar(out)
    assert n_rg >= 3
    counting = CountingFS(LocalFS())
    st_side = dataset_statistics(out, fs=counting)
    assert counting.opens == 1  # the sidecar IS the dataset metadata
    assert st_side == st_walk
    # pruning through the sidecar still names real files
    kept = filter_row_groups(out, [("lang", "==", "rust")])
    assert all(f.endswith(".parquet") for f, _ in kept)


def test_append_generations_and_merged_stats(spark, tmp_path):
    from fastparquet_spark.engine import append_dataset, encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 3000), out, num_partitions=2,
                   salt_rows=10**9).collect()
    write_metadata_sidecar(out)
    rows = append_dataset(spark, _df(spark, 3000, 5000), out,
                          num_partitions=2, salt_rows=10**9, resume=False)
    assert sum(r.rows for r in rows) == 2000
    assert glob.glob(f"{out}/part-g001-*.parquet")
    # sidecar reflects old+new in one fetch
    counting = CountingFS(LocalFS())
    st = dataset_statistics(out, fs=counting)
    assert counting.opens == 1
    assert st["content"]["num_values"] == 5000
    # Spark sees the union (underscore sidecar ignored by the scan)
    assert spark.read.parquet(out).count() == 5000
    # a second append gets generation 2
    append_dataset(spark, _df(spark, 5000, 5500), out,
                   num_partitions=2, salt_rows=10**9, resume=False)
    assert glob.glob(f"{out}/part-g002-*.parquet")
    assert dataset_statistics(out)["content"]["num_values"] == 5500


def test_append_rejects_schema_mismatch(spark, tmp_path):
    from fastparquet_spark.engine import append_dataset, encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 1000), out, num_partitions=1,
                   salt_rows=10**9).collect()
    bad = spark.createDataFrame([(1, "x")], "repo long, content string")
    with pytest.raises(ValueError, match="schema mismatch"):
        append_dataset(spark, bad, out, num_partitions=1, salt_rows=10**9)
    assert not glob.glob(f"{out}/part-g*.parquet")  # nothing written


def test_sidecar_files_readable_by_pyarrow_dataset(spark, tmp_path):
    """External engines ignore _metadata but must still read the files."""
    from fastparquet_spark.engine import encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 1200), out, num_partitions=2,
                   salt_rows=10**9).collect()
    write_metadata_sidecar(out)
    total = sum(pq.read_table(f).num_rows
                for f in glob.glob(f"{out}/part-*.parquet"))
    assert total == 1200
    # the sidecar itself parses as a parquet footer for pyarrow
    md = pq.read_metadata(f"{out}/_metadata")
    assert md.num_rows == 1200


def test_append_into_hive_layout(spark, tmp_path):
    """Generations compose with hive key=value directories: appended
    files land under the right partition dirs with the g-prefix, the
    sidecar re-merge covers both generations, and Spark reads the union
    with partition discovery intact."""
    from fastparquet_spark.engine import append_dataset, encode_dataset
    from fastparquet_spark.format.dataset import write_metadata_sidecar

    out = str(tmp_path / "hv")
    encode_dataset(spark, _df(spark, 0, 1800), out, partition_cols=("lang",),
                   layout="hive", num_partitions=2, salt_rows=10**9).collect()
    write_metadata_sidecar(out)
    rows = append_dataset(spark, _df(spark, 1800, 3000), out,
                          partition_cols=("lang",), layout="hive",
                          num_partitions=2, salt_rows=10**9, resume=False)
    assert sum(r.rows for r in rows) == 1200
    assert glob.glob(f"{out}/lang=*/part-g001-*.parquet")
    counting = CountingFS(LocalFS())
    st = dataset_statistics(out, fs=counting)
    assert counting.opens == 1  # sidecar single fetch, both generations
    assert st["content"]["num_values"] == 3000
    got = spark.read.parquet(out)
    assert got.count() == 3000 and got.filter("lang='rust'").count() == 1000


def test_incremental_sidecar_touches_only_new_files(spark, tmp_path):
    """Append-time sidecar maintenance is O(new files): the old sidecar
    is merged in memory and only the new generation's footers are
    fetched (open-counted) — not a full dataset re-walk.  A writer into
    a dir with a stale sidecar also invalidates it up front."""
    import os

    from fastparquet_spark.engine import encode_dataset
    from fastparquet_spark.format.dataset import read_sidecar

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 3000), out, num_partitions=3,
                   salt_rows=10**9).collect()
    write_metadata_sidecar(out)
    base = read_sidecar(out)
    encode_dataset(spark, _df(spark, 3000, 4000), out, num_partitions=2,
                   salt_rows=10**9, file_prefix="part-g001",
                   resume=False).collect()
    # the stale sidecar was invalidated at plan time (ADVICE: readers
    # must never stats-prune against metadata missing the new files)
    assert not os.path.exists(f"{out}/_metadata")
    new_files = sorted(os.path.basename(p)
                       for p in glob.glob(f"{out}/part-g001-*.parquet"))
    counting = CountingFS(LocalFS())
    write_metadata_sidecar(out, fs=counting, base=base, files=new_files)
    assert counting.opens == len(new_files)  # tail reads of new files only
    st = dataset_statistics(out)
    assert st["content"]["num_values"] == 4000


def test_hive_many_keys_bounded_writers(spark, tmp_path):
    """With many partition keys and small Arrow batches, the sorted
    stream closes each hive writer as the sort moves past its key: the
    output is still exactly one file per key (no reopen suffixes) and
    every row survives."""
    import os

    from fastparquet_spark.engine import encode_dataset

    rows = [(f"k{i % 40:02d}", f"p{i}", f"body {i}") for i in range(8000)]
    df = spark.createDataFrame(rows, "k string, path string, content string")
    out = str(tmp_path / "many")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "500")
    try:
        man = encode_dataset(spark, df, out, partition_cols=("k",),
                             layout="hive", num_partitions=2,
                             salt_rows=10**9, resume=False).collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert sum(r.rows for r in man) == 8000
    files = glob.glob(f"{out}/k=*/part-*.parquet")
    assert files and not glob.glob(f"{out}/k=*/part-*-r*.parquet")
    per_key = {}
    for f in files:
        per_key.setdefault(f.split("/k=")[1].split("/")[0], []).append(f)
    assert len(per_key) == 40
    # one file per (key, task-partition) — the eager close never split
    assert all(len(v) <= 2 for v in per_key.values())
    back = spark.read.parquet(out)
    assert back.count() == 8000
    assert back.filter("k = 'k07'").count() == 200


def test_snapshots_and_time_travel(spark, tmp_path):
    """Generations are queryable snapshots: read_snapshot(g) reads the
    dataset AS OF that generation — the Iceberg time-travel analog over
    part-g{N} naming."""
    from fastparquet_spark.engine import append_dataset, encode_dataset
    from fastparquet_spark.format.dataset import read_snapshot

    out = str(tmp_path / "tt")
    encode_dataset(spark, _df(spark, 0, 1000), out, num_partitions=2,
                   salt_rows=10**9).collect()
    write_metadata_sidecar(out)
    append_dataset(spark, _df(spark, 1000, 1600), out,
                   num_partitions=2, salt_rows=10**9, resume=False)
    append_dataset(spark, _df(spark, 1600, 1900), out,
                   num_partitions=2, salt_rows=10**9, resume=False)
    assert read_snapshot(spark, out, 0).count() == 1000
    assert read_snapshot(spark, out, 1).count() == 1600
    df2 = read_snapshot(spark, out, 2)
    assert df2.count() == 1900
    # snapshot content is exact, not just counts
    assert df2.agg({"path": "max"}).collect()[0][0] == "src/f999.py"
    assert read_snapshot(spark, out, 1).filter("path = 'src/f1599.py'").count() == 1
    assert read_snapshot(spark, out, 0).filter("path = 'src/f1599.py'").count() == 0
    import pytest as _pt

    with _pt.raises(ValueError, match="unknown generation"):
        read_snapshot(spark, out, 7)


def test_common_metadata_sidecar_written_and_opens(spark, tmp_path):
    """r4 missing #2: the reference writes both _metadata and
    _common_metadata (schema-only, cheap open — fastparquet/writer.py:
    1045-1046,1108); ecosystem discovery (dask/pyarrow) looks for it.
    Appends must keep it in sync."""
    import os

    import pyarrow.parquet as pq

    from fastparquet_spark.engine import append_dataset, encode_dataset, synthetic_source_table
    from fastparquet_spark.format.dataset import (
        load_dataset_metas, write_metadata_sidecar,
    )

    out = str(tmp_path / "cm")
    df = synthetic_source_table(spark, 600, partitions=2)
    encode_dataset(spark, df, out, compression="SNAPPY",
                   partition_cols=(), num_partitions=2,
                   resume=False).collect()
    write_metadata_sidecar(out)
    assert os.path.exists(os.path.join(out, "_metadata"))
    assert os.path.exists(os.path.join(out, "_common_metadata"))
    # pyarrow opens it and sees the schema, zero row groups
    cm = pq.ParquetFile(os.path.join(out, "_common_metadata"))
    full = pq.ParquetFile(os.path.join(out, "_metadata"))
    assert cm.schema_arrow.names == full.schema_arrow.names
    assert cm.metadata.num_row_groups == 0
    # our own load_dataset_metas path still works
    assert sum(rg["num_rows"] for m in load_dataset_metas(out)[1]
               for rg in m["fmd"]["row_groups"]) == 600
    # append refreshes both sidecars (same mtime generation)
    append_dataset(spark, synthetic_source_table(spark, 100, partitions=1),
                   out, partition_cols=(), num_partitions=1, resume=False)
    cm2 = pq.ParquetFile(os.path.join(out, "_common_metadata"))
    assert cm2.metadata.num_row_groups == 0
    assert sum(rg["num_rows"] for m in load_dataset_metas(out)[1]
               for rg in m["fmd"]["row_groups"]) == 700


def test_append_resume_reuses_interrupted_generation(spark, tmp_path):
    """(r5 review #4) an interrupted append (generation files exist,
    sidecar never re-merged) must RESUME that generation on re-run —
    committed partitions skip via manifests — instead of re-encoding
    the whole df under a fresh prefix and duplicating rows."""
    from fastparquet_spark.engine import append_dataset, encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 1000), out, num_partitions=2,
                   salt_rows=10**9, resume=False).collect()
    write_metadata_sidecar(out)
    # simulate an interrupted append: run it fully, then delete the
    # sidecar (the completion marker) and ONE partition's manifest +
    # file (an uncommitted partition)
    append_dataset(spark, _df(spark, 1000, 1600), out,
                   num_partitions=2, salt_rows=10**9, resume=False)
    victims = sorted(glob.glob(f"{out}/part-g001-*.parquet"))
    os.remove(os.path.join(out, "_metadata"))
    if os.path.exists(os.path.join(out, "_common_metadata")):
        os.remove(os.path.join(out, "_common_metadata"))
    vic = os.path.basename(victims[0])
    os.remove(victims[0])
    os.remove(os.path.join(out, "_manifests",
                           vic.replace(".parquet", ".json")))
    # a REAL interrupted append leaves its in-progress marker on disk
    # (it is removed only after the final sidecar re-merge)
    with open(os.path.join(out, "_g001_INPROGRESS"), "wb"):
        pass
    # re-run the SAME append with resume semantics
    rows = append_dataset(spark, _df(spark, 1000, 1600), out,
                          num_partitions=2, salt_rows=10**9)
    # no part-g002 files: the interrupted generation was resumed
    assert not glob.glob(f"{out}/part-g002-*.parquet")
    skipped = [r for r in rows if r["skipped"]]
    redone = [r for r in rows if not r["skipped"]]
    assert skipped and redone  # committed partition skipped, victim redone
    # total rows exactly once
    assert spark.read.parquet(out).count() == 1600
    # and the sidecar is consistent again
    n = sum(rg["num_rows"] for m in load_dataset_metas(out)[1]
            for rg in m["fmd"]["row_groups"])
    assert n == 1600
    # the completed resume cleared its marker
    assert not os.path.exists(os.path.join(out, "_g001_INPROGRESS"))


def test_append_never_resumes_completed_generation(spark, tmp_path):
    """(r5 ADVICE #1 — silent data loss guard) a sidecar missing for any
    OTHER reason than an interrupted append — here: a later append died
    after its plan-time sidecar invalidation but before any task commit
    — must NOT decrement onto the previous COMPLETED generation (whose
    manifests all exist, so every partition would skip and the new
    DataFrame's rows would vanish).  Without the in-progress marker the
    append writes a fresh generation."""
    from fastparquet_spark.engine import append_dataset, encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 1000), out, num_partitions=2,
                   salt_rows=10**9, resume=False).collect()
    write_metadata_sidecar(out)
    # generation 1 COMPLETES (marker removed, sidecar merged)
    append_dataset(spark, _df(spark, 1000, 1500), out,
                   num_partitions=2, salt_rows=10**9)
    assert not glob.glob(f"{out}/_g*_INPROGRESS")
    # a later append dies after invalidating the sidecar, before any
    # task manifest or marker for g002 lands
    os.remove(os.path.join(out, "_metadata"))
    if os.path.exists(os.path.join(out, "_common_metadata")):
        os.remove(os.path.join(out, "_common_metadata"))
    # re-run with DIFFERENT data and default resume semantics
    rows = append_dataset(spark, _df(spark, 1500, 2000), out,
                          num_partitions=2, salt_rows=10**9)
    # rows were NOT silently dropped: a fresh generation was written
    assert glob.glob(f"{out}/part-g002-*.parquet")
    assert not any(r["skipped"] for r in rows)
    assert spark.read.parquet(out).count() == 2000
    n = sum(rg["num_rows"] for m in load_dataset_metas(out)[1]
            for rg in m["fmd"]["row_groups"])
    assert n == 2000


def test_append_refuses_reordered_columns_before_any_task(spark, tmp_path):
    """The append check uses the sidecar merge's ordered schema rule:
    the same columns in another order are refused before any task
    runs, so no file, marker or sidecar change is left behind (a
    looser check let the job commit its files and then raise in the
    merge, and every re-run resumed into the same failure)."""
    from fastparquet_spark.engine import append_dataset, encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 600), out, num_partitions=2,
                   salt_rows=10**9, resume=False).collect()
    write_metadata_sidecar(out)

    def files():
        return sorted(os.path.relpath(os.path.join(r, f), out)
                      for r, _, fs in os.walk(out) for f in fs)

    def sidecar():
        with open(os.path.join(out, "_metadata"), "rb") as fh:
            return fh.read()

    before, side = files(), sidecar()
    df = _df(spark, 600, 900)
    reordered = df.select(*reversed(df.columns))
    with pytest.raises(ValueError, match="schema mismatch"):
        append_dataset(spark, reordered, out, num_partitions=2,
                       salt_rows=10**9)
    assert files() == before
    assert sidecar() == side
    assert spark.read.parquet(out).count() == 600


def test_append_drops_sidecar_entries_of_deleted_files(spark, tmp_path):
    """Both appenders share one stale-entry rule: a part file deleted
    after the sidecar was written leaves the appended sidecar, so the
    dataset reads again instead of failing on the missing file."""
    from fastparquet_spark.engine import append_dataset, encode_dataset

    out = str(tmp_path / "ds")
    encode_dataset(spark, _df(spark, 0, 900), out, num_partitions=3,
                   salt_rows=10**9, resume=False).collect()
    write_metadata_sidecar(out)
    gone = sorted(glob.glob(f"{out}/part-*.parquet"))[0]
    lost = pq.read_metadata(gone).num_rows
    os.remove(gone)
    append_dataset(spark, _df(spark, 900, 1200), out, num_partitions=2,
                   salt_rows=10**9, resume=False)
    listed = [m["file"] for m in load_dataset_metas(out)[1]]
    assert os.path.basename(gone) not in listed
    assert all(os.path.exists(os.path.join(out, f)) for f in listed)
    assert sum(rg["num_rows"] for m in load_dataset_metas(out)[1]
               for rg in m["fmd"]["row_groups"]) == 1200 - lost
    assert dataset_statistics(out)["content"]["num_values"] == 1200 - lost
