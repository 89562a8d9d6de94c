"""One row-filter semantics on every exact DNF read surface.

Every ``(col, op, val)`` shape — each op of ``predicate.OPS`` over an
int, a string and a double column holding nulls and NaNs, with empty,
null-member and NaN-member lists, plus AND/OR clauses and the
match-all spellings — is read through ``paged_read``,
``read_pages(exact=True)`` and ``ParquetFile.to_pandas(row_filter=True)``
over one dataset of two files: one written by our writer (which omits
float bounds around a NaN) and one by pyarrow (whose row-group and
page-index bounds leave NaNs out, so a constant-looking chunk can hide
one).  Each surface must return exactly the rows a row-by-row Python
evaluation of ``format/predicate.py``'s stated rules keeps:

- a null matches ``is_null`` and nothing else, and a ``None`` member
  of a list matches no row;
- NaN never compares: ``==``, ``in`` and the orderings are false for
  it, ``!=`` and ``not in`` true.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fastparquet_spark import api
from fastparquet_spark.format.dataset import read_pages
from fastparquet_spark.format.predicate import OPS, dnf
from fastparquet_spark.format.writer import write_file

NAN = math.nan
N = 24  # 4 row groups of 6 rows, pages of 2 rows

X = [None if i % 5 == 1 else (i * 7) % 11 for i in range(N)]
S = [None if i % 4 == 2 else "abcde"[i % 5] for i in range(N)]
F = [0.5, 0.5, NAN, 0.5, None, 0.5,      # constant but for a NaN
     0.1, NAN, 0.3, None, 0.9, 0.8,
     NAN, NAN, None, NAN, NAN, NAN,      # no bound at all
     0.7, 0.75, 0.2, 0.5, 1.5, -0.0]
ROWS = [{"id": i, "x": X[i], "s": S[i], "f": F[i]} for i in range(N)]

SCALARS = {"x": [0, 5, 10], "s": ["a", "c", "z"],
           "f": [0.5, 0.7, 0.0, NAN]}
LISTS = {"x": [[], [None], [5], [5, None], [0, 10]],
         "s": [[], ["c", None], ["a", "e"]],
         "f": [[], [NAN], [0.5, NAN], [0.5, None]]}


def holds(v, op, val) -> bool:
    """One term on one value, written from the stated rules."""
    if op == "is_null":
        return v is None
    if v is None:
        return False
    if op == "is_not_null":
        return True
    if op in ("in", "not in"):
        hit = any(m is not None and v == m for m in val)
        return hit if op == "in" else not hit
    return {"==": v == val, "=": v == val, "!=": v != val,
            "<": v < val, "<=": v <= val,
            ">": v > val, ">=": v >= val}[op]


def want(flt) -> list[int]:
    return [r["id"] for r in ROWS
            if any(all(holds(r[c], op, v) for c, op, v in clause)
                   for clause in dnf(flt))]


def _filters():
    out = []
    for col in ("x", "s", "f"):
        for op in OPS:
            if op in ("is_null", "is_not_null"):
                out.append([(col, op, None)])
            elif op in ("in", "not in"):
                out += [[(col, op, v)] for v in LISTS[col]]
            else:
                out += [[(col, op, v)] for v in SCALARS[col]]
    out += [
        [("x", ">", 2), ("f", "!=", 0.5)],
        [("s", "not in", ["a"]), ("f", "not in", [NAN])],
        [[("x", "==", 1)], [("f", ">", 0.7)]],
        [[("x", "is_null", None)], [("s", "==", "b")]],
        [[("f", "==", NAN)], [("x", "in", [])]],
        [[("f", "is_null", None), ("s", "is_not_null", None)],
         [("x", "not in", [None])]],
        [[("f", "<", 0.3)], []],
        [], None,
    ]
    return out


FILTERS = _filters()


@pytest.fixture(scope="module")
def dataset(tmp_path_factory):
    d = tmp_path_factory.mktemp("matrix")
    tbl = pa.table({"id": pa.array(range(N), pa.int64()),
                    "x": pa.array(X, pa.int64()),
                    "s": pa.array(S, pa.string()),
                    "f": pa.array(F, pa.float64())})
    write_file(str(d / "ours.parquet"), tbl, row_group_rows=6, page_rows=2)
    pq.write_table(tbl, str(d / "pyarrow.parquet"), row_group_size=6,
                   write_page_index=True, data_page_size=1,
                   write_batch_size=2)
    # the case the pyarrow file guards: its first row group reads as
    # the constant 0.5 though it holds a NaN
    st = pq.ParquetFile(str(d / "pyarrow.parquet")).metadata \
        .row_group(0).column(3).statistics
    assert st.has_min_max and st.min == st.max == 0.5
    return str(d)


def _ids_paged_read(spark, d, flt):
    from fastparquet_spark.engine import paged_read

    return [r["id"] for r in
            paged_read(spark, d, flt, columns=["id"]).collect()]


def _ids_read_pages(_spark, d, flt):
    return [i for name in ("ours", "pyarrow")
            for i in read_pages(f"{d}/{name}.parquet", flt, columns=["id"],
                                exact=True).column("id").to_pylist()]


def _ids_to_pandas(_spark, d, flt):
    return api.ParquetFile(d).to_pandas(
        columns=["id"], filters=flt, row_filter=True)["id"].tolist()


@pytest.mark.parametrize("surface", [_ids_paged_read, _ids_read_pages,
                                     _ids_to_pandas],
                         ids=["paged_read", "read_pages", "to_pandas"])
def test_every_surface_answers_the_python_rows(request, dataset, surface):
    # the Spark session only for the Spark-side surface
    spark = (request.getfixturevalue("spark")
             if surface is _ids_paged_read else None)
    assert len(FILTERS) > 100
    for flt in FILTERS:
        rows = want(flt)
        # both files hold the same rows, so every id comes back twice
        assert sorted(surface(spark, dataset, flt)) == sorted(rows * 2), flt
