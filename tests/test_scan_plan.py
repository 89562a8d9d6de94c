"""The one scan planner, ``engine.scan_job.plan_scan``, without Spark:
the driver plan that paged_read and the 'fps' data source both run
(union schema, projection, partition typing, pruned units), and the
executor-side ``scan_unit`` that consumes its units."""

from __future__ import annotations

import pyarrow as pa
import pytest

from fastparquet_spark.engine.scan_job import plan_scan, scan_unit
from fastparquet_spark.format.dataset import (
    filter_row_groups, load_dataset_metas,
)
from fastparquet_spark.format.writer import write_file

OLD_FILE = "k=abc/part-0.parquet"
NEW_FILE = "k=3/part-0.parquet"


@pytest.fixture()
def hive(tmp_path):
    """Two hive partitions, k=abc and k=3, so k resolves to string; the
    newer k=3 file adds the ``extra`` column.  ``s`` carries a bloom
    filter and both files span the same s range (even values in one,
    odd in the other), so only the bloom can tell them apart."""
    root = tmp_path / "hive"
    for rel, parity, extra in ((OLD_FILE, 0, False), (NEW_FILE, 1, True)):
        (root / rel).parent.mkdir(parents=True)
        ids = list(range(parity, 200, 2))
        cols = {"id": pa.array(ids, pa.int64()),
                "s": pa.array([f"s{i:03d}" for i in ids])}
        if extra:
            cols["extra"] = pa.array([i / 2 for i in ids])
        write_file(str(root / rel), pa.table(cols), row_group_rows=50,
                   bloom_filters={"s": 0.01})
    return load_dataset_metas(str(root))


def _units(units):
    root_free = {}
    for path, ris, pvals, absent in units:
        rel = path.split("/hive/", 1)[1]
        root_free[rel] = (ris, pvals, absent)
    return root_free


def test_full_plan_schema_order_and_units(hive):
    root, metas = hive
    schema, file_cols, part_cols, units = plan_scan(
        root, metas, None, None)
    # file columns (union, first-seen order), then partition columns
    assert schema.names == ["id", "s", "extra", "k"]
    assert schema.field("extra").type == pa.float64()
    assert schema.field("k").type == pa.string()  # mixed spellings
    assert (file_cols, part_cols) == (["id", "s", "extra"], ["k"])
    assert all(u[0].startswith(root.rstrip("/") + "/") for u in units)
    got = _units(units)
    assert list(got) == sorted(got)  # one unit per file, in file order
    # no filter: every row group survives
    assert got[OLD_FILE] == ([0, 1], {"k": "abc"}, ["extra"])
    # the int-spelled partition value is stringified to the column type
    assert got[NEW_FILE] == ([0, 1], {"k": "3"}, [])
    assert isinstance(got[NEW_FILE][1]["k"], str)


def _rows(units, clauses, plan, exact=True):
    schema, file_cols, part_cols = plan
    return pa.Table.from_batches(
        [b for unit in units for b in scan_unit(
            *unit, clauses, file_cols, part_cols, schema, exact)],
        schema=schema)


def test_partition_only_projection_keeps_row_count(hive):
    """A partition-only projection decodes no file column, and still
    yields one row per file row on the match-all path (pyarrow's
    reader) and the selective path (the page reader)."""
    root, metas = hive
    schema, file_cols, part_cols, units = plan_scan(
        root, metas, None, ["k"])
    assert schema.names == ["k"]
    assert (file_cols, part_cols) == ([], ["k"])
    plan = (schema, file_cols, part_cols)
    got = _rows(units, [[]], plan)
    assert sorted(got.column("k").to_pylist()) == ["3"] * 100 + ["abc"] * 100
    clauses = [[("id", "<", 10)]]
    *_, units = plan_scan(root, metas, clauses, ["k"])
    got = _rows(units, clauses, plan)
    assert sorted(got.column("k").to_pylist()) == ["3"] * 5 + ["abc"] * 5
    # page-granular superset: the first row group of each file
    got = _rows(units, clauses, plan, exact=False)
    assert got.num_rows == 100


def test_absent_column_reads_as_nulls_with_the_file_row_count(hive):
    root, metas = hive
    schema, file_cols, _parts, units = plan_scan(
        root, metas, None, ["extra"])
    assert schema.names == ["extra"] and file_cols == ["extra"]
    got = _units(units)
    # the older file predates ``extra``: it reads as nulls, one per row
    assert got[OLD_FILE][2] == ["extra"]
    assert got[NEW_FILE][2] == []
    tbl = _rows(units, [[]], (schema, file_cols, []))
    assert tbl.num_rows == 200
    assert tbl.column("extra").null_count == 100


def test_bloom_and_stats_filters_drop_units(hive):
    root, metas = hive
    clause = [("s", "==", "s050")]  # even: only in the k=abc file
    # stats alone keep both files (same min/max) ...
    by_stats = {f for f, _ri in filter_row_groups(root, [clause],
                                                  metas=metas,
                                                  use_bloom=False)}
    assert by_stats == {OLD_FILE, NEW_FILE}
    # ... the bloom probe drops the k=3 file's unit
    *_, units = plan_scan(root, metas, [clause], None)
    assert list(_units(units)) == [OLD_FILE]
    assert _units(units)[OLD_FILE][0] == [0]  # row group 1 starts at s100
    # a stats-only miss drops every unit
    *_, units = plan_scan(root, metas, [[("id", ">", 10_000)]], None)
    assert units == []


def test_units_scan_to_the_planned_rows(hive):
    """Feeding every planned unit through scan_unit reproduces the
    dataset in the planned schema: typed nulls for the evolved column,
    partition constants of the resolved type."""
    root, metas = hive
    schema, file_cols, part_cols, units = plan_scan(
        root, metas, None, None)
    got = _rows(units, [[]], (schema, file_cols, part_cols)).sort_by("id")
    assert got.column("id").to_pylist() == list(range(200))
    assert got.column("k").to_pylist() == ["abc", "3"] * 100
    assert got.column("extra").to_pylist() == [
        None if i % 2 == 0 else i / 2 for i in range(200)]

    # a selective clause goes through the page reader, exact rows only
    clauses = [[("s", "==", "s051")]]
    schema, file_cols, part_cols, units = plan_scan(
        root, metas, clauses, ["id", "k"])
    rows = _rows(units, clauses, (schema, file_cols, part_cols)).to_pylist()
    assert rows == [{"id": 51, "k": "3"}]


def test_unknown_projected_column_raises(hive):
    """A projected column that neither a file nor the partitions hold
    raises, as a filter term on one does."""
    root, metas = hive
    with pytest.raises(ValueError, match=r"nonexistent column.*'nope'"):
        plan_scan(root, metas, None, ["id", "k", "nope"])


def _nested_metas(tmp_path):
    import pyarrow.parquet as pq

    d = tmp_path / "nested"
    d.mkdir()
    pq.write_table(pa.table({
        "k": pa.array([1, 2], pa.int64()),
        "l": pa.array([[1, 2], None], pa.list_(pa.int32())),
        "s": pa.array([{"a": 1}, None], pa.struct([("a", pa.int64())])),
        "m": pa.array([[("x", 1)], []], pa.map_(pa.string(), pa.int64())),
    }), str(d / "n.parquet"))
    return load_dataset_metas(str(d))


def test_nested_columns_raise_unless_projected_away(tmp_path):
    """LIST, MAP and STRUCT parquet columns raise, naming each, instead
    of dropping out of the schema; a projection without them plans."""
    root, metas = _nested_metas(tmp_path)
    with pytest.raises(ValueError, match=r"\['l', 's', 'm'\]"):
        plan_scan(root, metas, None, None)
    with pytest.raises(ValueError, match=r"\['s'\]"):
        plan_scan(root, metas, None, ["k", "s"])
    schema = plan_scan(root, metas, None, ["k"])[0]
    assert schema == pa.schema([("k", pa.int64())])


def test_fpsc_list_column_is_a_flat_leaf(tmp_path):
    """An FPSC LIST column is one flat leaf: it plans and scans."""
    from fastparquet_spark.format.container import FpscFormat, write_container

    d = tmp_path / "fpsc"
    d.mkdir()
    tbl = pa.table({"k": pa.array([1, 2], pa.int64()),
                    "v": pa.array([[1.0, 2.0], [3.0]],
                                  pa.list_(pa.float32()))})
    write_container(str(d / "c.fpsc"), tbl)
    root, metas = load_dataset_metas(str(d), fmt=FpscFormat)
    schema, file_cols, part_cols, units = plan_scan(root, metas, None, None,
                                                    fmt=FpscFormat)
    assert file_cols == ["k", "v"]
    got = pa.Table.from_batches(
        [b for u in units for b in scan_unit(*u, [[]], file_cols, part_cols,
                                              schema, True, FpscFormat)])
    assert got.to_pydict() == tbl.to_pydict()
