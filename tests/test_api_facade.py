"""The drop-in compatibility facade (fastparquet_spark.api): the
reference's ParquetFile + write surface over our engine — open
file/dir/glob/list, columns/dtypes/statistics/count/head/
iter_row_groups/to_pandas (columns+DNF filters+row_filter), and
write() with simple/hive schemes, explicit row_group_offsets, append.

Reference semantics cited per method in api.py docstrings
(fastparquet/api.py:95-674, writer.py:810-1010)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.api import ParquetFile, write


def _df(n=3_000):
    rng = np.random.default_rng(5)
    return pd.DataFrame({
        "k": np.arange(n, dtype=np.int64),
        "lang": [["py", "rs", "go"][i % 3] for i in range(n)],
        "score": rng.normal(0, 1, n),
        "text": [f"doc {i} body" for i in range(n)],
    })


def test_write_simple_and_open(tmp_path):
    df = _df()
    path = str(tmp_path / "t.parquet")
    write(path, df, row_group_offsets=1_000, compression="SNAPPY")
    # independent reader agrees
    assert pq.read_table(path).num_rows == len(df)
    pf = ParquetFile(path)
    assert pf.columns == ["k", "lang", "score", "text"]
    assert len(pf) == len(df) and pf.count() == len(df)
    assert len(pf.row_groups) == 3
    assert pf.dtypes["k"] == np.dtype("int64")
    assert pf.dtypes["lang"] == np.dtype("object")
    back = pf.to_pandas()
    pd.testing.assert_frame_equal(back, df)
    # projection
    two = pf.to_pandas(columns=["k", "lang"])
    assert list(two.columns) == ["k", "lang"]
    # head decodes only the first row group
    h = pf.head(7)
    assert list(h["k"]) == list(range(7))
    # statistics: reference shape {stat: {col: [per-rg]}}
    st = pf.statistics
    assert st["min"]["k"] == [0, 1000, 2000]
    assert st["max"]["k"] == [999, 1999, 2999]
    assert st["null_count"]["k"] == [0, 0, 0]


def test_filters_and_row_filter(tmp_path):
    df = _df()
    path = str(tmp_path / "f.parquet")
    write(path, df, row_group_offsets=500, compression="ZSTD")
    pf = ParquetFile(path)
    # rg pruning only: superset aligned to row-group boundaries
    sup = pf.to_pandas(filters=[("k", ">=", 1_200), ("k", "<", 1_300)])
    assert len(sup) == 500 and sup["k"].min() == 1_000
    # exact rows
    ex = pf.to_pandas(filters=[("k", ">=", 1_200), ("k", "<", 1_300)],
                      row_filter=True)
    assert list(ex["k"]) == list(range(1_200, 1_300))
    # predicate column decoded but dropped when not projected
    ex2 = pf.to_pandas(columns=["lang"],
                       filters=[("k", "==", 42)], row_filter=True)
    assert list(ex2.columns) == ["lang"] and len(ex2) == 1
    # DNF (OR of ANDs)
    dnf = pf.to_pandas(filters=[[("k", "<", 5)], [("k", ">=", 2_995)]],
                       row_filter=True)
    assert sorted(dnf["k"]) == list(range(5)) + list(range(2_995, 3_000))
    # count: metadata-only vs exact
    assert pf.count([("k", "<", 250)]) == 500  # one rg survives
    assert pf.count([("k", "<", 250)], row_filter=True) == 250
    # iter_row_groups with filters yields only surviving groups
    parts = list(pf.iter_row_groups(filters=[("k", "<", 700)]))
    assert [len(p) for p in parts] == [500, 500]


def test_write_hive_partitioned_and_append(tmp_path):
    df = _df(900)
    out = str(tmp_path / "ds")
    write(out, df, file_scheme="hive", partition_on=["lang"],
          compression="SNAPPY")
    import os

    assert os.path.exists(os.path.join(out, "_metadata"))
    assert os.path.exists(os.path.join(out, "_common_metadata"))
    pf = ParquetFile(out)
    assert sorted(pf.cats["lang"]) == ["go", "py", "rs"]
    assert pf.count() == 900
    back = pf.to_pandas()
    assert set(back.columns) == {"k", "score", "text", "lang"}
    assert sorted(back["k"]) == list(range(900))
    # partition predicate prunes whole files
    py_rows = pf.to_pandas(filters=[("lang", "==", "py")],
                           row_filter=True)
    assert len(py_rows) == 300 and set(py_rows["lang"]) == {"py"}
    # pyarrow reads the hive dataset too
    assert pq.read_table(out).num_rows == 900
    # append: new parts + re-merged sidecar
    write(out, _df(90), file_scheme="hive", partition_on=["lang"],
          append=True, compression="SNAPPY")
    assert ParquetFile(out).count() == 990
    # simple-scheme append raises like the reference
    p1 = str(tmp_path / "x.parquet")
    write(p1, df)
    with pytest.raises(ValueError, match="hive"):
        write(p1, df, append=True)


def test_open_glob_and_list(tmp_path):
    a, b = _df(100), _df(100)
    b["k"] += 100
    write(str(tmp_path / "p1.parquet"), a)
    write(str(tmp_path / "p2.parquet"), b)
    pf = ParquetFile(str(tmp_path / "p*.parquet"))
    assert pf.count() == 200
    pf2 = ParquetFile([str(tmp_path / "p1.parquet"),
                       str(tmp_path / "p2.parquet")])
    assert sorted(pf2.to_pandas()["k"]) == list(range(200))
    assert pf2.info["rows"] == 200


def test_explicit_row_group_offsets_and_custom_metadata(tmp_path):
    df = _df(1_000)
    path = str(tmp_path / "o.parquet")
    write(path, df, row_group_offsets=[0, 100, 600],
          custom_metadata={"pipeline": "v1"})
    pf = ParquetFile(path)
    assert [rg["num_rows"] for rg in pf.row_groups] == [100, 500, 400]
    assert pf.key_value_metadata.get("pipeline") == "v1"
    assert pq.read_table(path).num_rows == 1_000


def test_glob_across_hive_subdirs(tmp_path):
    """A glob spanning key=value subdirectories must keep files
    distinct (basenames collide) and resolve real paths."""
    df = _df(300)
    out = str(tmp_path / "ds")
    write(out, df, file_scheme="hive", partition_on=["lang"])
    pf = ParquetFile(f"{out}/lang=*/part.*.parquet")
    assert pf.count() == 300
    back = pf.to_pandas()
    assert sorted(back["k"]) == list(range(300))
    assert set(back["lang"]) == {"py", "rs", "go"}  # partition col parsed
    # filters on the partition column work through the glob open
    py = pf.to_pandas(filters=[("lang", "==", "py")], row_filter=True)
    assert len(py) == 100 and set(py["lang"]) == {"py"}


def test_partition_clause_on_unprojected_column(tmp_path):
    """A DNF branch on a partition column excluded from `columns` must
    be decided per file, not degenerate to match-all (review r5 #3)."""
    df = _df(300)
    out = str(tmp_path / "ds")
    write(out, df, file_scheme="hive", partition_on=["lang"])
    pf = ParquetFile(out)
    got = pf.to_pandas(columns=["k"],
                       filters=[[("lang", "==", "py")], [("k", ">=", 297)]],
                       row_filter=True)
    # lang==py -> k % 3 == 0 (100 rows); OR k in {297,298,299} -> 297
    # is py so union adds 298, 299
    assert len(got) == 102
    assert set(got["k"]) >= {297, 298, 299}
    assert all(k % 3 == 0 or k >= 297 for k in got["k"])


def test_head_walks_multiple_files(tmp_path):
    a, b = _df(50), _df(50)
    b["k"] += 50
    write(str(tmp_path / "p1.parquet"), a)
    write(str(tmp_path / "p2.parquet"), b)
    pf = ParquetFile([str(tmp_path / "p1.parquet"),
                      str(tmp_path / "p2.parquet")])
    h = pf.head(80)
    assert len(h) == 80 and sorted(h["k"]) == list(range(80))


def test_to_pandas_categories_and_index(tmp_path):
    df = _df(200)
    df["lang"] = df["lang"].astype("category")
    path = str(tmp_path / "ci.parquet")
    write(path, df)
    pf = ParquetFile(path)
    out = pf.to_pandas(categories=["lang"], index="k")
    assert out.index.name == "k"
    assert str(out["lang"].dtype) == "category"
    assert len(out) == 200
    # reference semantics (api.py:534-545): with pandas metadata
    # present, requesting a column NOT stored categorical raises
    with pytest.raises(TypeError):
        pf.to_pandas(categories=["text"])
    # a file WITHOUT pandas metadata accepts any categories request
    from fastparquet_spark.format import write_file
    import pyarrow as pa

    raw = str(tmp_path / "raw.parquet")
    write_file(raw, pa.table({"s": ["a", "b", "a"]}))
    got = ParquetFile(raw).to_pandas(categories=["s"])
    assert str(got["s"].dtype) == "category"


def test_merge_and_drill_scheme(tmp_path):
    """merge() writes the sidecars and opens the dataset (reference
    writer.py:1156); write(file_scheme='drill') lays out bare value
    dirs that paged_read discovers as dir0."""
    import os

    from fastparquet_spark.api import merge

    d = tmp_path / "m"
    d.mkdir()
    a, b = _df(60), _df(60)
    b["k"] += 60
    write(str(d / "a.parquet"), a)
    write(str(d / "b.parquet"), b)
    pf = merge([str(d / "a.parquet"), str(d / "b.parquet")])
    assert os.path.exists(d / "_metadata")
    assert os.path.exists(d / "_common_metadata")
    assert pf.count() == 120
    # schema mismatch raises
    import pandas as pd
    import pytest as _pt

    write(str(d / "c_bad.parquet"),
          pd.DataFrame({"other": [1, 2]}))
    with _pt.raises(ValueError, match="schemas differ"):
        merge([str(d / "a.parquet"), str(d / "c_bad.parquet")])
    os.remove(d / "c_bad.parquet")
    # drill scheme
    out = str(tmp_path / "drill")
    write(out, _df(90), file_scheme="drill", partition_on=["lang"])
    subdirs = sorted(p for p in os.listdir(out)
                     if not p.startswith("_"))
    assert subdirs == ["go", "py", "rs"]  # bare label dirs
    from fastparquet_spark.format.dataset import load_dataset_metas

    metas = load_dataset_metas(out, use_sidecar=False)[1]
    assert all(m["partitions"].get("dir0") in ("go", "py", "rs")
               for m in metas)


def test_pandas_index_roundtrip_without_naming_it(tmp_path):
    """(r5 VERDICT missing #2) write() embeds the pandas schema JSON in
    key_value_metadata; to_pandas restores a named index (and a
    default RangeIndex) without the caller naming it — the reference's
    behavior (writer.py:719-729 / api.py:555-562)."""
    df = _df(300).set_index("k")
    path = str(tmp_path / "idx.parquet")
    write(path, df)
    pf = ParquetFile(path)
    back = pf.to_pandas()
    assert back.index.name == "k"
    pd.testing.assert_frame_equal(back, df)
    # explicit index= still wins
    by_lang = pf.to_pandas(index="lang")
    assert by_lang.index.name == "lang"
    # RangeIndex frames keep the default index (no phantom column)
    plain = _df(50)
    p2 = str(tmp_path / "plain.parquet")
    write(p2, plain)
    back2 = ParquetFile(p2).to_pandas()
    pd.testing.assert_frame_equal(back2, plain)
    # unnamed materialized (level_0) index also restores
    un = _df(40)
    un.index = pd.Index(un.index.to_numpy()[::-1])
    p3 = str(tmp_path / "un.parquet")
    write(p3, un)
    back3 = ParquetFile(p3).to_pandas()
    assert back3.index.name is None
    pd.testing.assert_frame_equal(back3, un)


def test_open_file_like_object(tmp_path):
    """(r5 VERDICT missing #3) ParquetFile accepts an open file object
    (the reference does, fastparquet/api.py:95-162)."""
    import io

    df = _df(500)
    path = str(tmp_path / "t.parquet")
    write(path, df, row_group_offsets=200)
    with open(path, "rb") as fh:
        pf = ParquetFile(fh)
        assert pf.count() == 500
        assert pf.columns == ["k", "lang", "score", "text"]
        back = pf.to_pandas()
    pd.testing.assert_frame_equal(back, df)
    # BytesIO works too, filters included (stats pruning, no file IO)
    bio = io.BytesIO(open(path, "rb").read())
    pf2 = ParquetFile(bio)
    got = pf2.to_pandas(filters=[("k", "<", 150)], row_filter=True)
    assert list(got["k"]) == list(range(150))
    assert len(pf2.head(7)) == 7


def test_schema_helper_surface(tmp_path):
    """pf.schema mirrors the reference's SchemaHelper attributes
    (fastparquet/schema.py:76): element list, root, by-name lookup,
    printable tree."""
    path = str(tmp_path / "s.parquet")
    write(path, _df(50))
    pf = ParquetFile(path)
    sh = pf.schema
    assert sh.root.get("num_children") == 4
    assert [e["name"] for e in sh.schema_elements[1:]] == \
        ["k", "lang", "score", "text"]
    assert sh.schema_element("k")["type"] is not None
    assert sh.schema_element(["k"])["name"] == "k"
    with pytest.raises(KeyError):
        sh.schema_element("nope")
    with pytest.raises(KeyError):
        sh.schema_element(["x", "k"])  # bogus path must not resolve
    assert "lang" in sh.text and "- k" in sh.text


def test_schema_helper_nested_path_disambiguation(tmp_path):
    """Two LIST columns both emit elements named 'list'/'element' — the
    path lookup must resolve each column's OWN element, not the last
    one parsed (r6 review)."""
    import pyarrow as pa

    from fastparquet_spark.format.writer import write_file

    path = str(tmp_path / "n.parquet")
    write_file(path, pa.table({
        "a": pa.array([[1, 2], [3]], pa.list_(pa.int64())),
        "b": pa.array([["x"], ["y", "z"]], pa.list_(pa.string())),
    }))
    sh = ParquetFile(path).schema
    ea = sh.schema_element(["a", "list", "element"])
    eb = sh.schema_element(["b", "list", "element"])
    assert ea["type"] != eb["type"]  # int64 vs byte_array
    assert sh.schema_element("a").get("num_children")


def test_getitem_row_group_slicing(tmp_path):
    """Reference api.py:251-263: pf[i] / pf[a:b] select row groups;
    the result is a ParquetFile whose reads cover exactly those
    groups.  Spans files: 2 files x 3 row groups of 500."""
    a, b = _df(1_500), _df(3_000).iloc[1_500:].reset_index(drop=True)
    write(str(tmp_path / "p1.parquet"), a, row_group_offsets=500)
    write(str(tmp_path / "p2.parquet"), b, row_group_offsets=500)
    pf = ParquetFile([str(tmp_path / "p1.parquet"),
                      str(tmp_path / "p2.parquet")])
    assert len(pf.row_groups) == 6

    one = pf[2]
    assert isinstance(one, ParquetFile)
    assert len(one.row_groups) == 1 and len(one) == 500
    assert one.to_pandas()["k"].tolist() == list(range(1_000, 1_500))

    # slice crossing the file boundary
    mid = pf[1:4]
    assert len(mid.row_groups) == 3
    assert mid.to_pandas()["k"].tolist() == list(range(500, 2_000))
    # negative index = last group
    assert pf[-1].to_pandas()["k"].tolist() == list(range(2_500, 3_000))
    # empty selection keeps the schema
    empty = pf[4:4]
    assert len(empty) == 0 and list(empty.to_pandas().columns) \
        == list(pf.to_pandas().columns)
    # the parent is untouched
    assert len(pf.row_groups) == 6 and len(pf) == 3_000
    with pytest.raises(IndexError):
        pf[6]


def test_sorted_partitioned_columns_property(tmp_path):
    """Reference api.py:905-945: columns strictly ordered ACROSS row
    groups report their per-group min/max; overlapping or stat-less
    columns are excluded."""
    df = _df(2_000)  # k strictly increasing; score/text not ordered
    path = str(tmp_path / "s.parquet")
    write(path, df, row_group_offsets=500)
    pf = ParquetFile(path)
    out = pf.sorted_partitioned_columns
    assert "k" in out
    assert out["k"]["min"] == [0, 500, 1000, 1500]
    assert out["k"]["max"] == [499, 999, 1499, 1999]
    assert "score" not in out  # random — groups overlap
    # slicing composes: a single group is trivially sorted for every
    # stat-bearing column
    assert pf[1].sorted_partitioned_columns["k"]["min"] == [500]


def test_parquetfile_pickling_roundtrip(tmp_path):
    """Reference api.py:661-667 __getstate__: a ParquetFile must ship
    through pickle (Dask/multiprocessing) and read identically after."""
    import pickle

    out = str(tmp_path / "hive")
    df = _df(1_200)
    write(out, df, file_scheme="hive", partition_on=["lang"],
          row_group_offsets=400)
    pf = ParquetFile(out)
    pf2 = pickle.loads(pickle.dumps(pf))
    assert pf2.columns == pf.columns and len(pf2) == len(pf)
    got = pf2.to_pandas().sort_values("k").reset_index(drop=True)
    ref = pf.to_pandas().sort_values("k").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, ref)
    # count(filters) exercises the rebuilt filesystem handle
    assert pf2.count([("lang", "==", "py")]) \
        == pf.count([("lang", "==", "py")])
    # a sliced view pickles too
    pf3 = pickle.loads(pickle.dumps(pf[0]))
    assert len(pf3.row_groups) == 1


def test_hive_partition_values_quote_and_null_roundtrip(tmp_path):
    """Hive partition values must survive write->read exactly: the
    reader URL-unquotes and maps __HIVE_DEFAULT_PARTITION__ to null,
    so the writer must quote and emit the null marker (r7 review:
    raw values read back corrupted, '100%25' -> '100%', None ->
    'None')."""
    out = str(tmp_path / "hv")
    df = pd.DataFrame({"k": [1, 2, 3, 4],
                       "part": ["100%25", "a b", None, "plain"]})
    write(out, df, file_scheme="hive", partition_on=["part"])
    got = ParquetFile(out).to_pandas().sort_values("k")
    assert list(got["part"]) == ["100%25", "a b", None, "plain"]


def test_hive_overwrite_ignores_stale_parts(tmp_path):
    """A fresh (append=False) hive write's sidecar must cover EXACTLY
    the files it wrote — pre-existing part files under the target must
    not be swept in (r7 review)."""
    out = str(tmp_path / "ds")
    write(out, pd.DataFrame({"k": [1, 2], "g": ["a", "b"]}),
          file_scheme="hive", partition_on=["g"])
    # second write covers only g=a: the stale g=b part file survives on
    # disk but must NOT appear in the new dataset
    write(out, pd.DataFrame({"k": [10], "g": ["a"]}),
          file_scheme="hive", partition_on=["g"])
    got = ParquetFile(out).to_pandas()
    assert list(got["k"]) == [10] and list(got["g"]) == ["a"]


def test_hive_append_numbering_skips_gaps(tmp_path):
    """append=True numbers new parts past the MAX existing index, not
    len(existing) — naming gaps (crashed prior append, deleted part)
    must never cause a silent overwrite (r7 review; the reference
    derives the next index from existing names too)."""
    import os

    out = str(tmp_path / "ap")
    write(out, pd.DataFrame({"k": [1], "g": ["a"]}),
          file_scheme="hive", partition_on=["g"])
    write(out, pd.DataFrame({"k": [2], "g": ["a"]}),
          file_scheme="hive", partition_on=["g"], append=True)
    # fabricate a gap: drop part.0, keep part.1
    victim = next(p for p in os.listdir(os.path.join(out, "g=a"))
                  if p == "part.0.parquet")
    os.remove(os.path.join(out, "g=a", victim))
    write(out, pd.DataFrame({"k": [3], "g": ["a"]}),
          file_scheme="hive", partition_on=["g"], append=True)
    names = sorted(os.listdir(os.path.join(out, "g=a")))
    assert names == ["part.1.parquet", "part.2.parquet"]
    got = ParquetFile(out).to_pandas()
    assert sorted(got["k"]) == [2, 3]  # k=2 NOT overwritten


def test_projection_excludes_partition_columns(tmp_path):
    """iter_row_groups/head honor the columns= projection for
    partition columns exactly like to_pandas (r7 review: both leaked
    every partition column into projected frames)."""
    out = str(tmp_path / "pj")
    write(out, _df(600), file_scheme="hive", partition_on=["lang"])
    pf = ParquetFile(out)
    for frame in pf.iter_row_groups(columns=["k"]):
        assert list(frame.columns) == ["k"]
    assert list(pf.head(5, columns=["k", "score"]).columns) \
        == ["k", "score"]
    # partition-only projection still yields the partition column
    assert set(pf.head(5, columns=["lang"]).columns) == {"lang"}


def test_empty_result_partition_dtype_stable(tmp_path):
    """Filter-to-empty results type partition columns from the
    RESOLVED partition type, not string (r7 review: dtype-unstable
    empty frames break downstream concat)."""
    out = str(tmp_path / "em")
    df = pd.DataFrame({"v": [1.0, 2.0], "k": [10, 20]})
    write(out, df, file_scheme="hive", partition_on=["k"])
    pf = ParquetFile(out)
    empty = pf.to_pandas(columns=["v", "k"],
                         filters=[("k", "==", 999)])
    full = pf.to_pandas(columns=["v", "k"])
    assert len(empty) == 0
    assert empty["k"].dtype == full["k"].dtype


def test_append_does_not_resurrect_stale_parts(tmp_path):
    """append=True must extend the EXISTING sidecar incrementally, not
    re-sweep the directory — a full re-merge would resurrect part files
    a prior fresh write deliberately excluded (r7 review: overwritten
    rows silently reappearing after a later append)."""
    out = str(tmp_path / "ds")
    write(out, pd.DataFrame({"k": [1, 2], "g": ["a", "b"]}),
          file_scheme="hive", partition_on=["g"])
    # fresh overwrite covering only g=a: g=b/part.* is now stale
    write(out, pd.DataFrame({"k": [10], "g": ["a"]}),
          file_scheme="hive", partition_on=["g"])
    # append new g=c rows: the stale g=b rows must STAY invisible
    write(out, pd.DataFrame({"k": [20], "g": ["c"]}),
          file_scheme="hive", partition_on=["g"], append=True)
    got = ParquetFile(out).to_pandas().sort_values("k")
    assert list(got["k"]) == [10, 20]
    assert list(got["g"]) == ["a", "c"]


def test_refused_append_writes_no_file(tmp_path):
    """An append whose schema does not match the dataset raises before
    any part file is written, with or without the ``_metadata``
    sidecar: the directory holds exactly the files it held, and the
    dataset still reads."""
    import os

    out = str(tmp_path / "ds")
    write(out, pd.DataFrame({"k": ["a", "b"], "v": [1, 2]}),
          file_scheme="hive", partition_on=["k"])

    def files():
        return sorted(os.path.relpath(os.path.join(r, f), out)
                      for r, _, fs in os.walk(out) for f in fs)

    bad = pd.DataFrame({"k": ["c"], "v": ["x"]})
    for sidecar in (True, False):
        if not sidecar:
            os.remove(os.path.join(out, "_metadata"))
        before = files()
        with pytest.raises(ValueError, match="schema mismatch"):
            write(out, bad, file_scheme="hive", partition_on=["k"],
                  append=True)
        assert files() == before
        assert sorted(ParquetFile(out).to_pandas()["v"]) == [1, 2]


def test_drill_rejects_structure_breaking_partition_values(tmp_path):
    """drill directories are bare unescaped labels; a value containing
    '/' or None would write a structurally corrupt layout (phantom dir
    levels / literal 'None') — fail loudly instead (r7 review)."""
    for bad in ["a/b", None, ""]:
        with pytest.raises(ValueError, match="drill"):
            write(str(tmp_path / "d"),
                  pd.DataFrame({"k": [1], "g": [bad]}),
                  file_scheme="drill", partition_on=["g"])
    # hive handles all three via quoting / the null marker
    write(str(tmp_path / "h"),
          pd.DataFrame({"k": [1, 2, 3], "g": ["a/b", None, ""]}),
          file_scheme="hive", partition_on=["g"])
    got = ParquetFile(str(tmp_path / "h")).to_pandas().sort_values("k")
    assert list(got["g"]) == ["a/b", None, ""]


def test_categorical_write_and_restore(tmp_path):
    """The reference dict-encodes pandas Categoricals (writer.py:
    481-521) and restores them on read via the pandas metadata
    (api.py:534-545 check_categories).  Arrow dictionary columns must
    decode through the writer and read back as category dtype."""
    path = str(tmp_path / "cat.parquet")
    df = pd.DataFrame({"k": range(400),
                       "lang": pd.Categorical(["py", "js", "go", "rs"]
                                              * 100)})
    write(path, df, row_group_offsets=100)
    pf = ParquetFile(path)
    assert pf.has_pandas_metadata
    assert pf.categories == {"lang": 4}
    back = pf.to_pandas()
    assert back["lang"].dtype.name == "category"
    assert back["lang"].tolist() == df["lang"].tolist()
    # explicit request works; non-categorical column raises like the
    # reference's check_categories
    assert pf.to_pandas(categories=["lang"])["lang"].dtype.name \
        == "category"
    with pytest.raises(TypeError):
        pf.to_pandas(categories=["k"])
    # independent reader agreement on the dictionary-decoded values
    import pyarrow.parquet as pq
    assert pq.read_table(path).column("lang").to_pylist() \
        == df["lang"].tolist()


def test_module_level_filter_row_groups_and_statistics(tmp_path):
    """Reference module functions (api.py:822,948): statistics(pf),
    filter_row_groups(pf, filters, as_idx) over stats AND hive
    partition values; unknown filter columns raise."""
    from fastparquet_spark.api import filter_row_groups, statistics

    path = str(tmp_path / "f.parquet")
    df = _df(2_000)
    write(path, df, row_group_offsets=500)
    pf = ParquetFile(path)
    assert statistics(pf) == pf.statistics
    assert filter_row_groups(pf, None, as_idx=True) == [0, 1, 2, 3]
    assert filter_row_groups(pf, [("k", ">", 1200)], as_idx=True) \
        == [2, 3]
    rgs = filter_row_groups(pf, [("k", ">", 1200)])
    assert [rg["num_rows"] for rg in rgs] == [500, 500]
    with pytest.raises(ValueError):
        filter_row_groups(pf, [("nope", "==", 1)])
    # hive partition column filter
    out = str(tmp_path / "hv")
    write(out, df, file_scheme="hive", partition_on=["lang"],
          row_group_offsets=600)
    pf2 = ParquetFile(out)
    idx = filter_row_groups(pf2, [("lang", "==", "py")], as_idx=True)
    assert idx and len(idx) < len(pf2.row_groups)
    fn = pf2.row_group_filename(pf2.row_groups[idx[0]])
    assert "lang=py" in fn and fn.endswith(".parquet")


def test_sorted_partitioned_columns_with_filters(tmp_path):
    """Reference api.py:905-945 takes filters: only surviving row
    groups participate in the ordered-across-groups check."""
    from fastparquet_spark.api import sorted_partitioned_columns

    path = str(tmp_path / "s.parquet")
    write(path, _df(2_000), row_group_offsets=500)
    pf = ParquetFile(path)
    assert sorted_partitioned_columns(pf) \
        == pf.sorted_partitioned_columns
    sub = sorted_partitioned_columns(pf, [("k", ">=", 1000)])
    assert sub["k"]["min"] == [1000, 1500]
    assert sub["k"]["max"] == [1499, 1999]


def test_has_nulls_required_columns(tmp_path):
    """Reference writer.py:816 has_nulls: False => REQUIRED columns
    (no def levels), 'infer' => only object columns nullable, list =>
    named columns nullable.  A null under REQUIRED raises instead of
    corrupting."""
    import numpy as np
    import pyarrow.parquet as pq

    from fastparquet_spark.format.reader import read_file

    df = pd.DataFrame({"k": np.arange(900),
                       "v": np.linspace(0, 1, 900),
                       "s": [f"x{i}" for i in range(900)]})
    p = str(tmp_path / "req.parquet")
    write(p, df, has_nulls=False, row_group_offsets=300)
    sch = pq.ParquetFile(p).schema_arrow
    assert not any(f.nullable for f in sch if f.name in ("k", "v", "s"))
    assert read_file(p).column("k").to_pylist() == list(range(900))
    assert pq.read_table(p).column("s").to_pylist() == df["s"].tolist()

    # float None becomes NaN in a plain-float frame — a VALUE under
    # reference semantics, so has_nulls=False WRITES it (see
    # test_has_nulls_infer_float_nan_is_a_value); a None in an OBJECT
    # column is a real null and must raise
    with pytest.raises(ValueError, match="declared non-null"):
        write(str(tmp_path / "bad.parquet"),
              pd.DataFrame({"a": ["x", None]}), has_nulls=False)

    p2 = str(tmp_path / "inf.parquet")
    write(p2, pd.DataFrame({"i": [1, 2], "t": ["a", None]}),
          has_nulls="infer")
    flags = {f.name: f.nullable for f in pq.ParquetFile(p2).schema_arrow}
    assert flags == {"i": False, "t": True}

    p3 = str(tmp_path / "lst.parquet")
    write(p3, pd.DataFrame({"i": [1, 2], "t": ["a", "b"]}),
          has_nulls=["i"])
    flags = {f.name: f.nullable for f in pq.ParquetFile(p3).schema_arrow}
    assert flags == {"i": True, "t": False}


def test_required_on_paged_and_v2_paths(tmp_path):
    """required_cols works on the paged-PageIndex (v1) and v2 page
    paths; nested columns are rejected."""
    import pyarrow.parquet as pq

    from fastparquet_spark.format import write_file
    from fastparquet_spark.format.reader import read_file

    import pyarrow as pa

    tbl = pa.table({"k": pa.array(range(3000), pa.int64()),
                    "s": pa.array([f"v{i % 41}" for i in range(3000)])})
    p1 = str(tmp_path / "paged.parquet")
    write_file(p1, tbl, page_rows=512, required_cols={"k", "s"})
    assert read_file(p1).column("k").to_pylist() == list(range(3000))
    assert pq.read_table(p1).column("s").num_chunks >= 1

    p2 = str(tmp_path / "v2.parquet")
    write_file(p2, tbl, data_page_version=2, required_cols={"k"})
    assert read_file(p2).column("k").to_pylist() == list(range(3000))

    with pytest.raises(ValueError, match="flat schema columns"):
        write_file(str(tmp_path / "x.parquet"),
                   pa.table({"l": [[1], [2, 3]]}), required_cols={"l"})


def test_write_index_and_object_encoding(tmp_path):
    """Reference write() kwargs: write_index toggles index
    preservation; object_encoding casts/annotates object columns;
    fixed_text is refused loudly (it would alter values)."""
    import pyarrow.parquet as pq

    dfi = pd.DataFrame({"x": [1, 2, 3]}, index=pd.Index([10, 20, 30]))
    p = str(tmp_path / "i.parquet")
    write(p, dfi, write_index=True)
    assert ParquetFile(p).to_pandas().index.tolist() == [10, 20, 30]
    p2 = str(tmp_path / "ni.parquet")
    write(p2, dfi, write_index=False)
    assert ParquetFile(p2).to_pandas().index.tolist() == [0, 1, 2]

    dfo = pd.DataFrame({"j": ['{"a":1}'], "n": ["7"]})
    p3 = str(tmp_path / "oe.parquet")
    write(p3, dfo, object_encoding={"j": "json", "n": "int"})
    assert str(pq.read_table(p3).schema.field("n").type) == "int64"
    from fastparquet_spark.format.reader import read_footer_tail
    from fastparquet_spark.io import fetch_footers, get_fs
    fmd = read_footer_tail(fetch_footers([p3], get_fs(p3))[0])
    convs = {e["name"]: e.get("converted_type")
             for e in fmd["schema"][1:]}
    assert convs["j"] == 19  # ConvertedType.JSON

    with pytest.raises(NotImplementedError):
        write(str(tmp_path / "ft.parquet"), dfo, fixed_text={"n": 2})


def test_read_row_group_file(tmp_path):
    """Reference api.py:275-319: read one row group by object,
    partition constants attached, categories/index honored."""
    df = _df(900)
    out = str(tmp_path / "ds")
    write(out, df, file_scheme="hive", partition_on=["lang"],
          row_group_offsets=150)
    pf = ParquetFile(out)
    rg = pf.row_groups[0]
    part = pf.read_row_group_file(rg)
    assert len(part) == rg["num_rows"]
    assert "lang" in part.columns and part["lang"].nunique() == 1
    sub = pf.read_row_group_file(rg, columns=["k"], index="k")
    assert sub.index.name == "k" and list(sub.columns) == []
    with pytest.raises(ValueError, match="does not belong"):
        pf.read_row_group_file({"num_rows": 1, "columns": []})


def test_filter_val_in_not_in_scalars():
    from fastparquet_spark.api import filter_in, filter_not_in, filter_val

    # scalar ops on a [10, 20] range: True means the group is excluded
    assert filter_val("==", 25, 10, 20)
    assert filter_val("=", 5, 10, 20)
    assert not filter_val("==", 15, 10, 20)
    assert filter_val(">", 20, 10, 20)
    assert not filter_val(">", 19, 10, 20)
    assert filter_val("<", 10, 10, 20)
    assert filter_val(">=", 21, 10, 20)
    assert filter_val("<=", 9, 10, 20)
    # != excludes only a constant group equal to the value
    assert filter_val("!=", 7, 7, 7)
    assert not filter_val("!=", 7, 7, 9)
    # unknown bounds never justify exclusion
    assert not filter_val("==", 99, None, None)
    # in: empty set excludes; members inside/outside the range
    assert filter_in([], 10, 20)
    assert filter_in([1, 2, 30], 10, 20)
    assert not filter_in([1, 15], 10, 20)
    assert filter_in([5], None, 4)      # all members above vmax? no: 5>4 -> True
    assert not filter_in([3], None, 4)
    assert filter_in([3], 6, None)
    # constant group
    assert filter_in([1, 2], 5, 5)
    assert not filter_in([5], 5, 5)
    # not in (sound contract: only constant groups prune)
    assert filter_not_in([5], 5, 5)
    assert not filter_not_in([5], 5, 9)   # range may hold 6,7,8
    assert not filter_not_in([], 5, 5)
    assert filter_val("not in", [5], 5, 5)
    assert filter_val("in", [1], 2, 3)


def test_filter_out_stats_and_cats(tmp_path):
    from fastparquet_spark.api import filter_out_cats, filter_out_stats

    df = _df(1_000)
    path = str(tmp_path / "s.parquet")
    write(path, df, row_group_offsets=250)
    pf = ParquetFile(path)
    fmd = pf._metas[0]["fmd"]
    schema = fmd["schema"]
    rgs = fmd["row_groups"]
    # k spans [0,249], [250,499], ... per group
    assert filter_out_stats(rgs[0], [("k", ">", 249)], schema)
    assert not filter_out_stats(rgs[1], [("k", ">", 249)], schema)
    assert filter_out_stats(rgs[3], [("k", "<", 750)], schema)
    assert filter_out_stats(rgs[0], [("k", "in", [300, 400])], schema)
    assert not filter_out_stats(rgs[1], [("k", "in", [300])], schema)
    # pf.schema helper is accepted in place of the element list
    assert filter_out_stats(rgs[0], [("lang", "==", "zz")], pf.schema)
    # empty filters / unfiltered columns keep the group
    assert not filter_out_stats(rgs[0], [], schema)
    assert not filter_out_stats(rgs[0], [("text", "==", "doc 1 body")],
                                schema)
    # cats: synthesize a hive-addressed chunk
    rg = {"num_rows": 10,
          "columns": [{"file_path": "lang=py/part-0.parquet"}]}
    assert filter_out_cats(rg, [("lang", "==", "rs")])
    assert not filter_out_cats(rg, [("lang", "==", "py")])
    assert filter_out_cats(rg, [("lang", "not in", ["py"])])
    assert not filter_out_cats(rg, [("other", "==", 1)])
    assert not filter_out_cats(rg, [])


def test_paths_to_cats():
    from fastparquet_spark.api import paths_to_cats

    assert paths_to_cats([]) == ("empty", {})
    assert paths_to_cats(["", None]) == ("simple", {})
    assert paths_to_cats(["a.parquet", "b.parquet"]) == ("flat", {})
    scheme, cats = paths_to_cats(
        ["y=1/m=2/a.parquet", "y=1/m=3/b.parquet", "y=2/m=2/c.parquet"])
    assert scheme == "hive"
    assert cats == {"y": [1, 2], "m": [2, 3]}
    # coercion: ints, floats, hive null marker, url-escapes
    scheme, cats = paths_to_cats(
        ["k=1.5/a.parquet", "k=__HIVE_DEFAULT_PARTITION__/b.parquet",
         "k=a%20b/c.parquet"])
    assert scheme == "hive"
    assert set(map(repr, cats["k"])) == {"1.5", "None", "'a b'"}
    # partition_meta pins string typing (reference val_to_num(meta=))
    _, cats = paths_to_cats(["v=01/a.parquet"],
                            partition_meta={"v": {"numpy_type": "object"}})
    assert cats["v"] == ["01"]
    # drill scheme: bare labels become dir0..dirN
    scheme, cats = paths_to_cats(["2020/a.parquet", "2021/b.parquet"])
    assert scheme == "drill"
    assert cats == {"dir0": [2020, 2021]}
    # unequal depths
    assert paths_to_cats(["a/b/c.parquet", "d/e.parquet"]) == ("other", {})


def test_pre_allocate(tmp_path):
    df = _df(100)
    df["lang"] = df["lang"].astype("category")
    path = str(tmp_path / "p.parquet")
    write(path, df)
    pf = ParquetFile(path)
    out, views = pf.pre_allocate(40, ["k", "score", "lang"],
                                 categories=["lang"], index="k")
    assert len(out) == 40 and out.index.name == "k"
    assert list(out.columns) == ["score", "lang"]
    assert str(out["lang"].dtype) == "category"
    # filling the views mutates the frame (the reference's contract:
    # dask assigns into these arrays)
    views["score"][:] = 1.5
    views["k"][:] = np.arange(40)
    assert out["score"].iloc[7] == 1.5
    assert out.index[7] == 7
    assert set(views) == {"k", "score", "lang"}


def test_reference_instance_attributes(tmp_path):
    df = _df(100)
    path = str(tmp_path / "attrs.parquet")
    write(path, df)
    pf = ParquetFile(path)
    assert pf.created_by.startswith("fastparquet_spark")
    assert pf.selfmade is True
    assert pf.version == 1
    assert pf.file_scheme == "simple"
    assert pf.sep == "/"
    fmd = pf.fmd
    assert fmd["num_rows"] == 100
    assert len(fmd["row_groups"]) == len(pf.row_groups)
    with pf.open(path) as f:
        assert f.read(4) == b"PAR1"
    # hive dataset reports its scheme
    out = str(tmp_path / "ds")
    write(out, df, file_scheme="hive", partition_on=["lang"])
    assert ParquetFile(out).file_scheme == "hive"
    # foreign file (pyarrow-written) is not selfmade
    fp = str(tmp_path / "foreign.parquet")
    pq.write_table(pq.read_table(path), fp)
    assert ParquetFile(fp).selfmade is False


def test_has_nulls_infer_float_nan_is_a_value(tmp_path):
    """Reference semantics (writer.py has_nulls='infer'/False): plain
    float NaN is a VALUE, written into REQUIRED columns — not a null
    that invalidates the declaration.  Masked extension floats and
    Arrow tables with real nulls still fail loudly."""
    import numpy as np

    fn = str(tmp_path / "t.parquet")
    df = pd.DataFrame({"f": [1.0, np.nan, 3.0], "s": ["a", None, "c"]})
    write(fn, df, has_nulls="infer")
    out = ParquetFile(fn).to_pandas()
    assert out.f.tolist()[0] == 1.0 and np.isnan(out.f.tolist()[1])
    assert out.s.tolist() == ["a", None, "c"]
    # independent readers agree and see a REQUIRED float column
    import duckdb
    import pyarrow.parquet as pq

    got = pq.read_table(fn)
    assert not got.schema.field("f").nullable
    assert got.column("f").null_count == 0
    r = duckdb.sql(
        f"SELECT count(*) FILTER (isnan(f)), count(f) FROM '{fn}'"
    ).fetchone()
    assert r == (1, 3)

    with pytest.raises(ValueError, match="non-null"):
        write(fn, pd.DataFrame(
            {"f": pd.array([1.0, None], dtype="Float64")}), has_nulls=False)
    import pyarrow as pa
    with pytest.raises(ValueError, match="non-null"):
        write(fn, pa.table({"f": pa.array([1.0, None])}),
              has_nulls=False)


def test_pandas_type_restore_timedelta_tz_allnull(tmp_path):
    """Read-back parity with the reference for pandas types the
    parquet encoding flattens: timedelta64 rides as INT64/TIME_MICROS
    and must come back timedelta64 (converted_types.py:192-203), a
    tz-aware column is stored UTC and must come back in its original
    zone, and an all-None object column writes as an all-null STRING
    column instead of failing on Arrow's `null` type."""
    fn = str(tmp_path / "t.parquet")
    df = pd.DataFrame({
        "td": pd.to_timedelta([1, 2, 3], unit="s"),
        "t": pd.date_range("2024-01-01", periods=3, freq="h",
                           tz="US/Eastern"),
        "a": [None, None, None],
        "k": [1, 2, 3],
    })
    write(fn, df)
    pf = ParquetFile(fn)
    out = pf.to_pandas()
    assert out.td.dtype.kind == "m"
    assert out.td.tolist() == df.td.tolist()
    assert str(out.t.dtype).endswith("US/Eastern]")
    assert out.t.iloc[0].isoformat() == "2024-01-01T00:00:00-05:00"
    assert out.a.tolist() == [None, None, None]
    # the restore applies on every pandas-producing path
    it = next(pf.iter_row_groups())
    assert it.td.dtype.kind == "m" and str(it.t.dtype).endswith("Eastern]")
    one = pf.read_row_group_file(pf.row_groups[0])
    assert one.td.dtype.kind == "m"
    # independent reader sees the flat encoding (TIME/UTC), not garbage
    got = pq.read_table(fn)
    assert got.num_rows == 3


def test_date_and_masked_dtype_restore(tmp_path):
    """DATE columns surface as datetime64 (reference
    converted_types.py:189-191); masked extension dtypes (Int64,
    boolean — reference api.py:687 BaseMaskedDtype) come back in kind
    instead of degrading to float64+NaN / object."""
    import datetime

    fn = str(tmp_path / "t.parquet")
    df = pd.DataFrame({
        "d": [datetime.date(2024, 1, 1), datetime.date(2024, 6, 2)],
        "i": pd.array([1, None], dtype="Int64"),
        "b": pd.array([True, None], dtype="boolean"),
    })
    write(fn, df)
    pf = ParquetFile(fn)
    out = pf.to_pandas()
    assert out.d.dtype.kind == "M"
    assert out.d.iloc[1] == pd.Timestamp("2024-06-02")
    assert str(out.i.dtype) == "Int64" and out.i.isna().tolist() == [False, True]
    assert str(out.b.dtype) == "boolean" and out.b.iloc[0] is np.True_ or out.b.iloc[0] == True  # noqa: E712
    assert str(next(pf.iter_row_groups()).i.dtype) == "Int64"
    assert str(pf.read_row_group_file(pf.row_groups[0]).b.dtype) == "boolean"


def test_per_column_compression_dict(tmp_path):
    """The reference's per-column compression form (writer.py:656-662,
    docstring :840-860): {col: spec, "_default": spec}, specs either
    names or {"type","args"} dicts; unlisted columns fall to _default,
    else UNCOMPRESSED.  This form previously wrote EVERYTHING
    uncompressed silently."""
    df = pd.DataFrame({"a": range(500), "b": [str(i) * 3 for i in range(500)],
                       "l": [[1, 2]] * 500})
    fn = str(tmp_path / "pc.parquet")
    write(fn, df, compression={"a": "GZIP", "_default": "ZSTD"})
    md = pq.ParquetFile(fn).metadata.row_group(0)
    by_col = {md.column(i).path_in_schema.split(".")[0]:
              md.column(i).compression for i in range(md.num_columns)}
    assert by_col["a"] == "GZIP" and by_col["b"] == "ZSTD"
    assert by_col["l"] == "ZSTD"  # nested columns honor the map too
    out = ParquetFile(fn).to_pandas()
    assert out.a.tolist() == list(range(500))
    assert [list(x) for x in out.l[:2]] == [[1, 2], [1, 2]]

    write(fn, df[["a", "b"]], compression={
        "b": {"type": "GZIP", "args": {"level": 3}},
        "_default": {"type": "SNAPPY", "args": None}})
    md = pq.ParquetFile(fn).metadata.row_group(0)
    assert md.column(0).compression == "SNAPPY"
    assert md.column(1).compression == "GZIP"

    write(fn, df[["a", "b"]], compression={"a": "ZSTD"})  # no _default
    md = pq.ParquetFile(fn).metadata.row_group(0)
    assert md.column(0).compression == "ZSTD"
    assert md.column(1).compression == "UNCOMPRESSED"


def test_hive_dataset_read_restores_pandas_dtypes(tmp_path):
    """A partitioned dataset read through its ``_metadata`` sidecar
    restores the pandas dtypes its part files record (masked Int64, a
    tz-aware zone, Categorical, timedelta), as a read of one part file
    does — after a fresh write and after an ``append=True``."""
    import os

    def frame(ks):
        n = len(ks)
        return pd.DataFrame({
            "k": ks,
            "i": pd.array([1, None, 3, 4][:n], dtype="Int64"),
            "t": pd.date_range("2020-01-01", periods=n, tz="US/Eastern"),
            "c": pd.Categorical(["a", "b", "a", "b"][:n]),
            "d": pd.to_timedelta(range(n), unit="s"),
        })

    out = str(tmp_path / "ds")
    write(out, frame([1, 1, 2, 2]), file_scheme="hive", partition_on=["k"])
    want = ParquetFile(os.path.join(out, "k=1", "part.0.parquet")) \
        .to_pandas().dtypes
    assert str(want["i"]) == "Int64" and str(want["c"]) == "category"
    got = ParquetFile(out).to_pandas()
    assert dict(got.dtypes.drop("k")) == dict(want)
    assert got["i"].isna().tolist() == [False, True, False, False]

    write(out, frame([3, 3]), file_scheme="hive", partition_on=["k"],
          append=True)
    got = ParquetFile(out).to_pandas()
    assert len(got) == 6
    assert dict(got.dtypes.drop("k")) == dict(want)
