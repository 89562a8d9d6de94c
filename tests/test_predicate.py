"""The filter contract (format/predicate.py), Spark-free.

Regression tests for answers the pruning tiers used to disagree on,
a brute-force soundness matrix for ``may_match``, the Arrow residual
filter against Python evaluation, and one file — also with its footer
carrying the ``dictionary_page_offset == 0`` sentinel — read through
every pruning tier against a pyarrow read filtered in Python.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark import api
from fastparquet_spark.format.dataset import (
    filter_pages,
    filter_row_groups,
    read_pages,
)
from fastparquet_spark.format.predicate import (
    OPS,
    _apply_row_filter_dnf,
    _eval_partition_term,
    dnf,
    may_match,
)
from fastparquet_spark.format.writer import write_file


def holds(x, op, val) -> bool:
    """Exact SQL-style evaluation of one term on one value: a null
    matches ``is_null`` and nothing else."""
    if op == "is_null":
        return x is None
    if x is None:
        return False
    return {"==": lambda: x == val, "=": lambda: x == val,
            "!=": lambda: x != val, "<": lambda: x < val,
            "<=": lambda: x <= val, ">": lambda: x > val,
            ">=": lambda: x >= val, "in": lambda: x in val,
            "not in": lambda: x not in val,
            "is_not_null": lambda: True}[op]()


def row_holds(row: dict, filters) -> bool:
    return any(all(holds(row.get(c), op, v) for c, op, v in clause)
               for clause in dnf(filters))


# ------------------------------------------------------------ regressions --

@pytest.fixture()
def small(tmp_path):
    """8 int64 rows in 2 row groups, plus an all-null column ``n``."""
    d = tmp_path / "ds"
    d.mkdir()
    tbl = pa.table({"x": pa.array(range(8), pa.int64()),
                    "n": pa.nulls(8, pa.int64())})
    write_file(str(d / "part-0.parquet"), tbl, row_group_rows=4,
               page_rows=2)
    return d


def test_unknown_op_raises(small):
    p = str(small / "part-0.parquet")
    with pytest.raises(ValueError, match="unsupported filter op"):
        read_pages(p, [("x", "like", 3)], exact=True)
    with pytest.raises(ValueError, match="unsupported filter op"):
        filter_pages(p, [("x", "like", 3)])


def test_no_filter_keeps_every_row_group(small):
    every = [("part-0.parquet", 0), ("part-0.parquet", 1)]
    assert filter_row_groups(str(small), []) == every
    assert filter_row_groups(str(small), None) == every


def test_filter_out_stats_keeps_all_null_group_for_is_null(small):
    fmd = api.ParquetFile(str(small))._metas[0]["fmd"]
    for rg in fmd["row_groups"]:
        assert not api.filter_out_stats(rg, [("n", "is_null", None)],
                                        fmd["schema"])
        assert api.filter_out_stats(rg, [("n", "is_not_null", None)],
                                    fmd["schema"])


def test_row_group_tiers_agree_on_all_null_chunk(small):
    pf = api.ParquetFile(str(small))
    fmd = pf._metas[0]["fmd"]
    flt = [("n", "==", 5)]
    kept = api.filter_row_groups(pf, flt, as_idx=True)
    out = [i for i, rg in enumerate(fmd["row_groups"])
           if not api.filter_out_stats(rg, flt, fmd["schema"])]
    assert kept == out == []


# ------------------------------------------------------------- normalizer --

def test_dnf_spellings():
    assert dnf(None) == dnf([]) == [[]]
    assert dnf([("a", "==", 1)]) == [[("a", "==", 1)]]
    assert dnf([["a", "in", [1, 2]], ["b", "<", 3]]) == \
        [[("a", "in", [1, 2]), ("b", "<", 3)]]
    assert dnf([[["a", "==", 1]], []]) == [[("a", "==", 1)], []]
    assert dnf(dnf([("a", "==", 1)])) == [[("a", "==", 1)]]
    with pytest.raises(ValueError, match="unsupported filter op"):
        dnf([[("a", "==", 1)], [("b", "~", 2)]])


# ------------------------------------------------------- soundness matrix --

ELEMS = (None, 1, 2, 3)
SCALARS = (0, 1, 2, 3, 4)  # below, inside and above the value range
SETS = [list(s) for k in range(3)
        for s in itertools.combinations(SCALARS, k)]


def _terms():
    for op in OPS:
        if op in ("in", "not in"):
            yield from ((op, s) for s in SETS)
        elif op in ("is_null", "is_not_null"):
            yield op, None
        else:
            yield from ((op, v) for v in SCALARS)


def _stats(chunk):
    vals = [x for x in chunk if x is not None]
    lo = min(vals) if vals else None
    hi = max(vals) if vals else None
    nulls = len(chunk) - len(vals)
    # full stats, one-sided bounds, and unknown null counts
    yield lo, hi, nulls, len(chunk)
    yield None, hi, nulls, len(chunk)
    yield lo, None, nulls, len(chunk)
    yield None, None, nulls, len(chunk)
    yield lo, hi, None, None
    yield lo, hi, nulls, None


def test_may_match_is_sound():
    checked = 0
    for size in (1, 2, 3):
        for chunk in itertools.combinations_with_replacement(ELEMS, size):
            for op, val in _terms():
                exact = any(holds(x, op, val) for x in chunk)
                for st in _stats(chunk):
                    if not may_match(op, val, *st):
                        assert not exact, (chunk, op, val, st)
                    checked += 1
    assert checked > 10_000


def test_may_match_is_exact_on_constants():
    for v in ELEMS:
        for size in (1, 3):
            chunk = (v,) * size
            st = (v, v, size if v is None else 0, size)
            for op, val in _terms():
                assert may_match(op, val, *st) == holds(v, op, val), \
                    (chunk, op, val)
                assert _eval_partition_term(v, op, val) == holds(v, op, val)


def test_may_match_incomparable_types_raise():
    with pytest.raises(TypeError):
        may_match("<", "a", 1, 5, 0, 10)
    with pytest.raises(TypeError):
        may_match("in", ["a"], 1, 5, 0, 10)


def test_row_filter_matches_python():
    rows = [{"id": i, "a": a, "c": c} for i, (a, c) in enumerate(
        itertools.product(ELEMS + (0, 4), (None, 1, 2)))]
    tbl = pa.table({"id": pa.array([r["id"] for r in rows], pa.int64()),
                    "a": pa.array([r["a"] for r in rows], pa.int64()),
                    "c": pa.array([r["c"] for r in rows], pa.int64())})
    terms = [("a", op, v) for op, v in _terms()]
    filters = [[t] for t in terms]
    filters += [[t, ("c", "!=", 1)] for t in terms[::5]]
    filters += [[[t], [("c", "is_null", None)]] for t in terms[::7]]
    for flt in filters:
        got = _apply_row_filter_dnf(tbl, dnf(flt)).column("id").to_pylist()
        want = [r["id"] for r in rows if row_holds(r, flt)]
        assert got == want, flt


# ----------------------------------------------------- every tier, 1 file --

FILE_FILTERS = [
    [("x", "==", 5)], [("x", ">", 20)], [("x", "<=", 3), ("i", ">=", 1)],
    [("x", "in", [1, 30])], [("x", "not in", [2, 3])], [("x", "!=", 7)],
    [("x", "is_null", None)], [("x", "is_not_null", None)],
    [("n", "is_null", None)], [("n", "is_not_null", None)],
    [("n", "==", 5)], [("n", "!=", 5)], [("n", "not in", [5])],
    [("b", "<", b"\x80")], [("b", "==", b"\x10")], [("b", ">=", b"\x90")],
    [("b", "in", [b"\x01", b"\x02"])],
    [[("x", "==", 5)], [("n", "is_null", None), ("i", "<", 3)]],
    [["x", ">=", 28]], [], None,
]


@pytest.fixture()
def tiered(tmp_path):
    """32 rows, 4 row groups of 2 pages: ``x`` with nulls, an all-null
    ``n`` and a binary ``b`` whose >64-byte all-0xFF maxima leave its
    row-group stats one-sided (min only) in the odd groups."""
    d = tmp_path / "tiered"
    d.mkdir()
    n = 32
    b = [bytes([0x80 + i]) + b"k" if (i // 8) % 2 == 0
         else (b"\xff" * 70 if i % 4 == 3 else bytes([0x90 + i]))
         for i in range(n)]
    tbl = pa.table({
        "i": pa.array(range(n), pa.int64()),
        "x": pa.array([None if i % 5 == 0 else i for i in range(n)],
                      pa.int64()),
        "n": pa.nulls(n, pa.int64()),
        "b": pa.array(b, pa.binary())})
    write_file(str(d / "part-0.parquet"), tbl, row_group_rows=8,
               page_rows=4)
    return d, tbl.to_pylist()


def test_one_sided_stats_are_written(tiered):
    d, _rows = tiered
    fmd = api.ParquetFile(str(d))._metas[0]["fmd"]
    st = fmd["row_groups"][1]["columns"][3]["meta_data"]["statistics"]
    assert "min_value" in st and "max_value" not in st


def _sentinel_copy(d):
    """``d``'s file beside it with its footer re-serialized so every
    chunk without a dictionary page carries ``dictionary_page_offset``
    0 — the no-dictionary sentinel some writers emit."""
    from fastparquet_spark.format import thrift
    from fastparquet_spark.format.metadata import MAGIC, SPECS
    from fastparquet_spark.format.reader import read_footer

    blob = (d / "part-0.parquet").read_bytes()
    fmd = read_footer(blob)
    cmds = [cc["meta_data"] for rg in fmd["row_groups"]
            for cc in rg["columns"]]
    assert any("dictionary_page_offset" not in c for c in cmds)
    for c in cmds:
        c.setdefault("dictionary_page_offset", 0)
    body = thrift.write_struct("FileMetaData", fmd, SPECS)
    out = d.parent / (d.name + "_sentinel")
    out.mkdir()
    (out / "part-0.parquet").write_bytes(
        blob[:len(blob) - 8 - int.from_bytes(blob[-8:-4], "little")]
        + body + len(body).to_bytes(4, "little") + MAGIC)
    return out


@pytest.mark.parametrize("flt", FILE_FILTERS, ids=repr)
def test_every_tier_returns_the_python_rows(tiered, flt):
    d, rows = tiered
    # the pyarrow read is the reference the rows below are judged by
    assert pq.read_table(str(d / "part-0.parquet")).to_pylist() == rows
    want = [r["i"] for r in rows if row_holds(r, flt)]
    for root in (d, _sentinel_copy(d)):
        path = str(root / "part-0.parquet")
        # row-group tier: a superset of the matching rows' groups
        kept = {ri for _f, ri in filter_row_groups(str(root), flt)}
        assert {i // 8 for i in want} <= kept
        # page tier: every matching row inside a kept row range
        ranges = filter_pages(path, flt)
        assert all(any(rg * 8 + a <= i < rg * 8 + a + k
                       for rg, a, k in ranges) for i in want)
        # exact readers
        got = read_pages(path, flt, columns=["i"], exact=True)
        assert sorted(got.column("i").to_pylist()) == want
        df = api.ParquetFile(str(root)).to_pandas(
            columns=["i"], filters=flt, row_filter=True)
        assert sorted(df["i"].tolist()) == want


def test_one_sided_and_all_null_stats_prune(tiered):
    d, _rows = tiered
    # b's min alone rules out the odd groups for a value below it
    assert [ri for _f, ri in filter_row_groups(
        str(d), [("b", "==", b"\x10")])] == []
    assert filter_row_groups(str(d), [("n", "==", 5)]) == []
    assert len(filter_row_groups(str(d), [("n", "is_null", None)])) == 4


def test_facade_partition_terms_use_the_resolved_type(tmp_path):
    """k=3 beside k=abc resolves ``k`` to string: the facade decides
    partition terms on the stringified values, as the engine scan does."""
    for key, lo in (("3", 0), ("abc", 30)):
        sub = tmp_path / f"k={key}"
        sub.mkdir()
        pq.write_table(pa.table({"v": pa.array(range(lo, lo + 3),
                                               pa.int64())}),
                       str(sub / "part-0.parquet"))
    pf = api.ParquetFile(str(tmp_path))
    for flt, want in (([("k", "==", "abc")], [30, 31, 32]),
                      ([("k", "==", "3")], [0, 1, 2]),
                      ([("k", "==", 3)], [0, 1, 2]),
                      ([("k", "in", ["abc"])], [30, 31, 32]),
                      ([("k", "!=", "abc")], [0, 1, 2])):
        df = pf.to_pandas(filters=flt, row_filter=True)
        assert sorted(df["v"]) == want, flt


# ------------------------------------------------ date / timestamp values --

def test_datetime_and_date_values_prune_every_tier(tmp_path):
    """A ``datetime``/``date`` filter value prunes on the bounds of a
    TIMESTAMP/DATE column — parquet stats, the page index and FPSC
    container stats (epoch ints) alike — and the kept rows are exact."""
    import datetime as dt

    from fastparquet_spark.format.container import FpscFormat, write_container

    n = 16
    t0 = dt.datetime(2020, 1, 1)
    ts = [t0 + dt.timedelta(days=30 * i) for i in range(n)]
    tbl = pa.table({
        "i": pa.array(range(n), pa.int64()),
        "t": pa.array(ts, pa.timestamp("us")),
        "tz": pa.array(ts, pa.timestamp("ms", "UTC")),
        "ns": pa.array([t.replace(microsecond=1) for t in ts],
                       pa.timestamp("ns")),
        "d": pa.array([t.date() for t in ts], pa.date32())})
    pq_dir, fpsc_dir = tmp_path / "pq", tmp_path / "fpsc"
    pq_dir.mkdir()
    fpsc_dir.mkdir()
    write_file(str(pq_dir / "part-0.parquet"), tbl, row_group_rows=4,
               page_rows=2)
    for g in range(4):  # FPSC has no zoned timestamps
        write_container(str(fpsc_dir / f"part-{g}.fpsc"),
                        tbl.slice(4 * g, 4).drop_columns(["tz"]))
    cut = ts[13]  # row 13: the second row of the last row group
    utc = cut.replace(tzinfo=dt.timezone.utc)
    for flt in ([("t", ">=", cut)], [("tz", ">=", utc)],
                [("ns", ">", cut)], [("d", ">=", cut.date())]):
        want = [13, 14, 15]
        assert filter_row_groups(str(pq_dir), flt) == \
            [("part-0.parquet", 3)], flt
        if flt[0][0] != "tz":
            assert filter_row_groups(str(fpsc_dir), flt, fmt=FpscFormat) \
                == [("part-3.fpsc", 0)], flt
        path = str(pq_dir / "part-0.parquet")
        # page tier: the last row group's second page only (rows 14-15)
        # survives beside row 13's page
        assert filter_pages(path, flt) == [(3, 0, 2), (3, 2, 2)], flt
        assert read_pages(path, flt, columns=["i"], exact=True) \
            .column("i").to_pylist() == want, flt
        assert api.ParquetFile(str(pq_dir)).to_pandas(
            columns=["i"], filters=flt, row_filter=True)["i"].tolist() \
            == want, flt
    # a bound between rows prunes the page before it
    assert filter_pages(str(pq_dir / "part-0.parquet"),
                        [("t", ">=", ts[14])]) == [(3, 2, 2)]
