"""Drop-in compatibility facade: the reference's public API surface
(``ParquetFile`` + ``write``, fastparquet/api.py:20-674 and
fastparquet/writer.py:810-1010) expressed over this engine's primitives.

A user of the reference switches by changing one import::

    from fastparquet_spark.api import ParquetFile, write

Semantics are reproduced from the reference's documented behavior, not
its code: ``ParquetFile`` opens a file, a directory (``_metadata``
sidecar honored), a glob, or an explicit file list; ``to_pandas`` takes
the same ``columns`` / ``filters`` (DNF) / ``row_filter`` triple;
``count(filters)`` is metadata-only unless ``row_filter=True``
(api.py:512-525); ``statistics`` has the same
``{stat: {column: [per-row-group]}}`` shape (api.py:822).

This facade is the DRIVER-SIDE convenience path (pandas in, pandas
out).  The distributed paths — ``engine.encode_dataset`` /
``encode_files`` for writes, ``spark.read.parquet`` /
``engine.paged_read`` for scans — remain the 100-TB story; everything
here routes through the same writer/reader kernels.
"""

from __future__ import annotations

import functools
import os
from typing import Any

import pyarrow as pa

from fastparquet_spark.format.dataset import (
    _coerce_partition_value,
    _iter_chunks,
    _metas,
    _partition_dir,
    _partition_values,
    _split_by_key,
    load_dataset_metas,
    partition_type,
    schema_paths,
    union_leaf_elems,
)
from fastparquet_spark.format.dataset import (
    filter_row_groups as _meta_filter_row_groups,
)
from fastparquet_spark.format.metadata import Encoding
from fastparquet_spark.format.predicate import (
    _apply_row_filter_dnf,
    _chunk_may_match,
    _eval_partition_term,
    _file_clauses,
    dnf,
    may_match,
)
from fastparquet_spark.format.reader import _arrow_type, read_row_groups
from fastparquet_spark.format.writer import ParquetWriter
from fastparquet_spark.io import get_fs

__all__ = ["ParquetFile", "ParquetException", "filter_in",
           "filter_not_in", "filter_out_cats", "filter_out_stats",
           "filter_row_groups", "filter_val", "merge", "paths_to_cats",
           "sorted_partitioned_columns", "statistics", "write"]


class ParquetException(Exception):
    """The reference's top-level error type (fastparquet/util.py:22)."""


_NAN = object()


def _distinct(values) -> list:
    """Distinct partition values sorted by repr, NaN once.  Each file's
    NaN is its own float object and NaN != NaN, so a set would keep one
    per file; the reference's cats come from path text, where every
    ``k=nan`` is one value."""
    out = {}
    for v in values:
        out.setdefault(_NAN if isinstance(v, float) and v != v else v, v)
    return sorted(out.values(), key=repr)


def _is_bytes(t: pa.DataType) -> bool:
    """Whether pandas gets ``t``'s values as str/bytes objects."""
    return (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)
            or pa.types.is_fixed_size_binary(t))


def _real_ris(m, ris):
    """Translate row-group positions in a (possibly ``pf[i]``-sliced)
    meta to positions in the file's REAL footer — ``read_row_groups``
    indexes the on-disk footer positionally, while a sliced meta's
    ``row_groups`` list is a subset (``rg_map`` records the original
    indices)."""
    rg_map = m.get("rg_map")
    return ris if rg_map is None else [rg_map[ri] for ri in ris]


class _SchemaHelper:
    """The reference's ``pf.schema`` convenience surface
    (fastparquet/schema.py:76-105, reproduced from its documented
    attributes): the raw element list, the root, a by-name map, lookup
    by name or path, and a printable tree."""

    def __init__(self, schema_elements: list[dict]):
        self.schema_elements = schema_elements
        self.root = schema_elements[0]
        self.schema_elements_by_name = {}
        self._by_path: dict[tuple, dict] = {}
        # full paths resolve nested schemas with repeated names
        # ('list'/'element' appear once per LIST column) unambiguously;
        # by-name keeps the FIRST occurrence
        for path, e in schema_paths(schema_elements):
            self._by_path[path] = e
            self.schema_elements_by_name.setdefault(e["name"], e)

    def schema_element(self, name):
        """Lookup by name, dotted path, or path list — the reference's
        SchemaHelper.schema_element contract (fastparquet/schema.py:
        97-105).  Unknown names/paths raise KeyError."""
        if isinstance(name, str):
            name = name.split(".")
        name = list(name)
        if len(name) > 1:
            return self._by_path[tuple(name)]
        return self.schema_elements_by_name[name[0]]

    @property
    def text(self) -> str:
        lines = [f"- {self.root.get('name', 'root')}:"]
        for e in self.schema_elements[1:]:
            rep = {0: "REQUIRED", 1: "OPTIONAL", 2: "REPEATED"}.get(
                e.get("repetition_type", 1), "OPTIONAL")
            typ = e.get("type")
            conv = e.get("converted_type")
            desc = f"{typ}" if conv is None else f"{typ} ({conv})"
            lines.append(f"| - {e['name']}: {desc}, {rep}")
        return "\n".join(lines)

    def __repr__(self) -> str:
        return self.text


class ParquetFile:
    """Open a parquet file, directory, glob, or list of files — the
    reference's entry object (fastparquet/api.py:95-162) — through the
    one dataset opener, ``dataset.load_dataset_metas``; an open file
    object is buffered and read from memory."""

    def __init__(self, fn, fs=None):
        self.fn = fn
        self._blob = None
        if hasattr(fn, "read") and hasattr(fn, "seek"):
            # open file object (the reference accepts one,
            # fastparquet/api.py:95-162): buffer once, serve every
            # row-group read from memory
            from fastparquet_spark.format.reader import read_footer

            fn.seek(0)
            blob = fn.read()
            self._blob = blob
            self.fn = getattr(fn, "name", "<file-like>")
            self._root = "."
            self._fs = get_fs(".", fs)
            self._metas = _metas([os.path.basename(str(self.fn))],
                                 [read_footer(blob)], "flat")
        else:
            self._root, self._metas = load_dataset_metas(fn, fs)
            self._fs = get_fs(self._root, fs)
        if not self._metas:
            raise ValueError(f"no parquet data at {fn!r}")
        self._fmd0 = self._metas[0]["fmd"]
        # schema-evolution tolerance: the dataset schema is the UNION
        # of the per-file leaf schemas (typed-null fill on read; type
        # conflicts raise) — same contract as engine.paged_read
        self._names, self._elems, self._absent = \
            union_leaf_elems(self._metas)
        # the metas hold partition values in their column's resolved
        # type (format/dataset.py _metas)
        pnames = {k: None for m in self._metas for k in m["partitions"]}
        self._ptypes = {k: partition_type(
            [m["partitions"].get(k) for m in self._metas]) for k in pnames}

    # ---------------------------------------------------------- metadata --
    @property
    def schema(self):
        """The reference's ``pf.schema`` helper (fastparquet/
        schema.py:76 SchemaHelper): ``schema_elements``, ``root``,
        ``schema_elements_by_name``, ``schema_element(name)``,
        ``.text``.  Evolved datasets see the first footer's structure
        plus the union's extra leaves appended, so every name in
        ``pf.columns`` resolves."""
        elems = list(self._fmd0["schema"])
        have = {e["name"] for e in elems[1:]}
        extra = [self._elems[n] for n in self._names if n not in have]
        if extra:
            root = dict(elems[0])
            root["num_children"] = (root.get("num_children") or 0) \
                + len(extra)
            elems = [root] + elems[1:] + extra
        return _SchemaHelper(elems)

    @property
    def columns(self) -> list[str]:
        """Leaf column names (api.py:210), partition columns excluded."""
        return list(self._names)

    @property
    def cats(self) -> dict:
        """Partition column -> sorted observed values (api.py's cats)."""
        out: dict[str, list] = {}
        for m in self._metas:
            for k, v in m["partitions"].items():
                out.setdefault(k, []).append(v)
        return {k: _distinct(v) for k, v in out.items()}

    @property
    def dtypes(self) -> dict:
        """Column -> numpy dtype (api.py:606 _dtypes)."""
        import numpy as np

        out = {}
        for name in self._names:
            try:
                out[name] = np.dtype(
                    self._atype(name).to_pandas_dtype())
            except (KeyError, NotImplementedError, TypeError):
                out[name] = np.dtype("object")
        return out

    @property
    def row_groups(self) -> list[dict]:
        return [rg for m in self._metas
                for rg in m["fmd"]["row_groups"]]

    @property
    def count_total(self) -> int:
        return sum(m["fmd"]["num_rows"] for m in self._metas)

    def count(self, filters=None, row_filter: bool = False) -> int:
        """Total rows; metadata-only unless both filters and row_filter
        are given (api.py:512-525)."""
        filters = dnf(filters)
        if [] in filters:
            return self.count_total
        if row_filter:
            # decode only the filter's columns; a filter on partition
            # keys alone still needs one column, so that every file
            # carries its row count
            cols = [c for clause in filters for c, _op, _v in clause
                    if c in self._names] or self.columns[:1]
            return sum(t.num_rows for t in self._tables(
                list(dict.fromkeys(cols)), filters, True))
        keep = self._surviving(filters)
        return sum(m["fmd"]["row_groups"][ri]["num_rows"]
                   for m in self._metas for ri in keep.get(m["file"], ()))

    @property
    def statistics(self) -> dict:
        """{stat: {column: [per-row-group values]}} (api.py:822)."""
        stats: dict[str, dict[str, list]] = {
            "min": {}, "max": {}, "null_count": {}, "distinct_count": {}}
        names = self.columns
        for _f, _ri, cols, _n in _iter_chunks(self._metas):
            for name in names:
                lo, hi, nulls, _nv = cols.get(name,
                                              (None, None, None, None))
                stats["min"].setdefault(name, []).append(lo)
                stats["max"].setdefault(name, []).append(hi)
                stats["null_count"].setdefault(name, []).append(nulls)
                stats["distinct_count"].setdefault(name, []).append(None)
        return stats

    @property
    def key_value_metadata(self) -> dict:
        kv = self._fmd0.get("key_value_metadata") or []
        return {e["key"]: e.get("value") for e in kv}

    @property
    def info(self) -> dict:
        """Dataset summary (api.py:528-533)."""
        return {"name": self.fn, "columns": self.columns,
                "partitions": list(self.cats), "rows": self.count(),
                "row_groups": len(self.row_groups)}

    @property
    def created_by(self) -> str | None:
        """Writer tag of the (first) footer (reference attribute)."""
        return self._fmd0.get("created_by")

    @property
    def version(self):
        """Parquet format version from the footer."""
        return self._fmd0.get("version", 1)

    @property
    def selfmade(self) -> bool:
        """Whether this engine (or the reference) wrote the file — the
        reference keys writer-specific fast paths off this
        (api.py:164-200)."""
        cb = (self.created_by or "").lower()
        return cb.startswith(("fastparquet_spark", "fastparquet-python"))

    @property
    def file_scheme(self) -> str:
        """Partition scheme label (reference attribute): ``simple``
        for one plain file, else ``flat``/``hive``/``drill``/``other``
        from the relative paths (api.py:700-758 detection)."""
        from fastparquet_spark.format.dataset import detect_scheme

        rels = [m["file"] for m in self._metas]
        if len(rels) == 1 and "/" not in rels[0]:
            return "simple"
        return detect_scheme(rels)

    @property
    def fmd(self) -> dict:
        """A merged footer view over every file: the first footer's
        schema/key-values with ALL row groups and the total row count
        (the reference exposes one consolidated thrift FileMetaData)."""
        out = dict(self._fmd0)
        out["row_groups"] = self.row_groups
        out["num_rows"] = self.count_total
        return out

    @property
    def tz(self) -> dict:
        """Column -> timezone string from the pandas metadata
        (reference _set_attrs tz map); empty when untyped."""
        out = {}
        for c in self.pandas_metadata.get("columns", []):
            tz = (c.get("metadata") or {}).get("timezone")
            if tz:
                out[c["name"]] = tz
        return out

    sep = "/"

    def open(self, path: str, mode: str = "rb"):
        """Opener over this dataset's filesystem (the reference stores
        the ``open_with`` callable it was constructed with)."""
        if mode not in ("rb", "r"):
            return self._fs.open_write(path)
        return self._fs.open_read(path)

    # --------------------------------------------------------------- read --
    def _atype(self, name):
        """Arrow type for a union-schema column; nested roots (which
        carry no physical type) degrade to null-typed fill."""
        e = self._elems[name]
        if e.get("num_children") is not None:
            return pa.null()
        return _arrow_type(e)

    def _path(self, rel: str):
        if self._blob is not None:
            return self._blob  # in-memory source (file-like open)
        return f"{self._root.rstrip('/')}/{rel}"

    def _surviving(self, filters) -> dict[str, list[int]]:
        keep: dict[str, list[int]] = {}
        # bloom probes need ranged file reads; stats-only for in-memory
        pairs = _meta_filter_row_groups(self._root, filters, fs=self._fs,
                                        metas=self._metas,
                                        use_bloom=self._blob is None)
        for f, ri in pairs:
            keep.setdefault(f, []).append(ri)
        return keep

    def _table(self, m, ris, columns=None, clauses=None):
        """File ``m``'s row groups ``ris`` as one Table — the one
        per-file reader behind every facade read.  Its columns are the
        projection's union columns (all for ``columns=None``), typed
        null where the file lacks one (the absent rule,
        format/dataset.py ``dataset_columns``), then the file's
        partition constants.  With no column to decode, the read still
        carries the row groups' row count (the reference returns the
        full-cardinality column here — fastparquet api.py:387-476).
        ``clauses`` (a DNF) applies the exact row filter:
        partition terms and terms on absent columns are decided for
        the whole file, the rest on decoded columns.  None when the
        projection names no column of the file."""
        want = [c for c in (self._names if columns is None else columns)
                if c in self._names]
        pcols = [k for k in m["partitions"] if columns is None or k in columns]
        if not want and not pcols:
            return None
        cols = want + [c for clause in clauses or () for c, _op, _v in clause
                       if c in self._names and c not in want]
        absent = self._absent[m["file"]]
        tbl = read_row_groups(self._path(m["file"]), _real_ris(m, ris),
                              columns=[c for c in cols if c not in absent])
        n = tbl.num_rows
        tbl = pa.Table.from_arrays(
            [pa.nulls(n, self._atype(c)) if c in absent else tbl.column(c)
             for c in cols]
            # O(1) repeated scalar, as the engine scan attaches them
            + [pa.repeat(pa.scalar(m["partitions"][k], self._ptypes[k]), n)
               for k in pcols],
            names=cols + pcols)
        if clauses is not None:
            tbl = _apply_row_filter_dnf(tbl, _file_clauses(
                clauses, m["partitions"], absent)).select(want + pcols)
        return tbl

    def _tables(self, columns, filters, row_filter):
        filters = dnf(filters)
        keep = self._surviving(filters)
        clauses = filters if row_filter else None
        for m in self._metas:
            ris = sorted(keep.get(m["file"], []))
            if ris and (tbl := self._table(m, ris, columns,
                                           clauses)) is not None:
                yield tbl

    def to_pandas(self, columns=None, categories=None, filters=None,
                  index=None, row_filter: bool = False):
        """Read into a pandas DataFrame with the reference's
        ``columns`` / ``categories`` / DNF ``filters`` / ``index`` /
        ``row_filter`` contract (api.py:387-476): filters prune row
        groups (a superset of the matching rows); ``row_filter=True``
        applies the exact residual predicate; ``categories`` names
        columns returned as pandas Categoricals; ``index`` promotes a
        column to the frame index.

        String and binary values come back as Python objects, shared
        the way the file stores them: a column whose every chunk is
        dictionary-encoded, and a partition column, return one object
        per distinct value (as the reference's dictionary pages become
        shared labels), while any other column returns a fresh object
        per row.  The writer stores a column PLAIN when its values are
        nearly all distinct, so sharing them would hash every value to
        save no memory."""
        parts = list(self._tables(columns, filters, row_filter))
        if not parts:
            names = columns if columns is not None else self.columns
            names = [n for n in names
                     if n in self.columns or n in self.cats]
            empty = {n: pa.array(
                [], type=self._atype(n) if n in self._elems
                else (self._ptypes.get(n) or pa.string()))
                for n in names}
            tbl = pa.table(empty)
        else:
            tbl = pa.concat_tables(parts, promote_options="default")
        df = self._frame(tbl, categories)
        if index is not None and index in df.columns:
            df = df.set_index(index)
        elif index is None:
            df = self._restore_pandas_index(df, columns)
        return df

    @functools.cached_property
    def _dict_columns(self) -> frozenset:
        """Flat columns whose every chunk the footers list as
        dictionary-encoded."""
        dict_encs = {Encoding.PLAIN_DICTIONARY, Encoding.RLE_DICTIONARY}
        dicts, others = set(), set()
        for m in self._metas:
            for rg in m["fmd"]["row_groups"]:
                for ch in rg["columns"]:
                    md = ch.get("meta_data") or {}
                    path = md.get("path_in_schema") or ()
                    if len(path) == 1:
                        is_dict = dict_encs & set(md.get("encodings") or ())
                        (dicts if is_dict else others).add(path[0])
        return frozenset(dicts - others)

    def _frame(self, tbl: pa.Table, categories=None):
        """The one Arrow -> pandas conversion behind every read
        surface: the pandas-level types restored (``_restore_meta_types``,
        ``_restore_masked_dtypes``, then ``categories``, by default the
        columns written as Categoricals — the reference's
        check_categories path, api.py:534-545), and string/binary
        objects shared only where the file shares them (see
        ``to_pandas``).  pyarrow's object dedup hashes every value of a
        column, so it runs on the dictionary-encoded and partition
        columns alone."""
        tbl = self._restore_meta_types(tbl)
        shared = self._dict_columns | self._ptypes.keys()
        names = tbl.column_names
        dedup = [i for i, f in enumerate(tbl.schema)
                 if f.name in shared and _is_bytes(f.type)]
        df = tbl.select([i for i in range(len(names)) if i not in dedup]) \
            .to_pandas(deduplicate_objects=False)
        # ascending positions: each insert lands at its final place
        for i in dedup:
            df.insert(i, names[i], tbl.column(i).to_pandas(),
                      allow_duplicates=True)
        df = self._restore_masked_dtypes(df, tbl)
        for c in self.check_categories(categories):
            if c in df.columns:
                df[c] = df[c].astype("category")
        return df

    def _restore_meta_types(self, tbl: pa.Table) -> pa.Table:
        """Restore pandas-level types the parquet encoding flattened,
        from the 'pandas' schema JSON — the reference's read-back
        behavior (converted_types.py:192-203 returns TIME_* as
        timedelta64; dataframe.py re-localizes datetimetz):

        - a column written from ``timedelta64`` rides as
          INT64/TIME_MICROS (writer parity) and would otherwise
          surface as ``datetime.time`` objects — cast back to Arrow
          duration so pandas sees timedelta64 again;
        - a tz-aware column is stored UTC — cast the zone back on
          (instant-preserving metadata cast)."""
        for m in self.pandas_metadata.get("columns", []):
            name, meta = m.get("name"), m.get("metadata") or {}
            if name not in tbl.column_names:
                continue
            i = tbl.column_names.index(name)
            t = tbl.field(i).type
            np_t = str(m.get("numpy_type") or "")
            if np_t.startswith("timedelta64") and (
                    pa.types.is_time(t) or pa.types.is_integer(t)):
                unit = getattr(t, "unit", None) or "us"
                col = tbl.column(i).cast(pa.int64()).cast(pa.duration(unit))
                tbl = tbl.set_column(
                    i, pa.field(name, col.type, tbl.field(i).nullable), col)
            elif (m.get("pandas_type") == "datetimetz"
                    and meta.get("timezone")
                    and pa.types.is_timestamp(t)
                    and t.tz != meta["timezone"]):
                col = tbl.column(i).cast(
                    pa.timestamp(t.unit, meta["timezone"]))
                tbl = tbl.set_column(
                    i, pa.field(name, col.type, tbl.field(i).nullable), col)
        # DATE columns surface as datetime64 like the reference
        # (converted_types.py:189-191), metadata or not.  The reference
        # returns datetime64[ns]; match it whenever the values fit the
        # ns-representable range (years 1677-2262) and fall back to 'ms'
        # only on overflow, so dtype parity holds in the common case.
        for i, f in enumerate(tbl.schema):
            if pa.types.is_date(f.type):
                try:
                    col = tbl.column(i).cast(pa.timestamp("ns"), safe=True)
                except pa.ArrowInvalid:
                    col = tbl.column(i).cast(pa.timestamp("ms"))
                tbl = tbl.set_column(
                    i, pa.field(f.name, col.type, f.nullable), col)
        return tbl

    _MASKED_NUMPY_TYPES = {
        "Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32",
        "UInt64", "Float32", "Float64", "boolean",
    }

    def _restore_masked_dtypes(self, df, tbl=None):
        """Columns written from pandas masked extension dtypes (Int64,
        boolean, ...) come back in them — the reference supports masked
        dtypes explicitly (api.py:687 BaseMaskedDtype handling); without
        this an Int64 column silently degrades to float64 + NaN.

        Integer columns are rebuilt FROM THE ARROW COLUMN
        (``integer_object_nulls=True``) when it is available: Arrow's
        default to_pandas routes int-with-null through float64, which
        silently rounds values above 2**53 — the masked array must
        round-trip exactly (reference fills masked arrays directly)."""
        import pandas as pd

        for m in self.pandas_metadata.get("columns", []):
            name, np_t = m.get("name"), str(m.get("numpy_type") or "")
            if np_t in self._MASKED_NUMPY_TYPES and name in df.columns \
                    and str(df[name].dtype) != np_t:
                try:
                    if tbl is not None and name in tbl.column_names \
                            and (np_t.startswith("Int")
                                 or np_t.startswith("UInt")):
                        vals = tbl.column(name).to_pandas(
                            integer_object_nulls=True)
                        df[name] = pd.array(vals, dtype=np_t)
                    else:
                        df[name] = df[name].astype(np_t)
                except (TypeError, ValueError):
                    pass  # leave the decoded dtype rather than corrupt
        return df

    def _restore_pandas_index(self, df, columns):
        """Restore the frame index from the 'pandas' schema JSON in
        ``key_value_metadata`` (written by :func:`write`; the
        reference restores it the same way, fastparquet/api.py:
        555-562).  RangeIndex entries are left as the default index;
        with an explicit ``columns`` projection that omits the stored
        index column, the frame is returned as-is."""
        import json as _json

        pmd = self.key_value_metadata.get("pandas")
        if not pmd:
            return df
        try:
            meta = _json.loads(pmd)
        except ValueError:
            return df
        idx_cols = [c for c in meta.get("index_columns", [])
                    if isinstance(c, str) and c in df.columns]
        if not idx_cols or (columns is not None
                            and any(c not in columns for c in idx_cols)):
            return df
        df = df.set_index(idx_cols)
        names = []
        for c in idx_cols:
            cm = next((m for m in meta.get("columns", [])
                       if m.get("field_name") == c), None)
            names.append(cm.get("name") if cm else c)
        df.index.names = names
        return df

    def iter_row_groups(self, filters=None, columns=None):
        """Yield one pandas DataFrame per surviving row group
        (api.py:321-337)."""
        keep = self._surviving(dnf(filters))
        for m in self._metas:
            for ri in sorted(keep.get(m["file"], [])):
                tbl = self._table(m, [ri], columns)
                if tbl is None:
                    break
                yield self._frame(tbl)

    def read_row_group_file(self, rg, columns=None, categories=None,
                            index=None):
        """Read ONE row group into a pandas DataFrame (reference
        api.py:275-319).  ``rg`` is an entry of ``self.row_groups``
        (resolved by identity); partition constants are attached and
        ``categories``/``index`` follow the to_pandas contract."""
        for m in self._metas:
            for ri, r in enumerate(m["fmd"]["row_groups"]):
                if r is rg:
                    tbl = self._table(m, [ri], columns)
                    df = self._frame(pa.table({}) if tbl is None else tbl,
                                     categories)
                    if index is not None and index in df.columns:
                        df = df.set_index(index)
                    return df
        raise ValueError("row group does not belong to this file")

    def pre_allocate(self, size, columns, categories, index):
        """Empty ``size``-row DataFrame with this file's dtypes plus
        the writable arrays backing it, for callers that fill frames
        in place (reference api.py:477-511; the Dask integration's
        contract).  ``index`` may be None/False, a column name, or a
        one-element list; requested ``categories`` and partition
        columns come back as (empty-category) categoricals.  Returns
        ``(df, views)`` where writing into ``views[col]`` mutates
        ``df``."""
        import numpy as np
        import pandas as pd

        categories = self.check_categories(categories)
        if isinstance(index, (list, tuple)):
            index = index[0] if index else None
        index = index or None
        dt = self.dtypes
        cats = self.cats
        cols = [c for c in columns if c != index]
        pieces: dict[str, Any] = {}
        for c in cols + ([index] if index else []):
            if c in categories or c in cats:
                pieces[c] = pd.Categorical.from_codes(
                    np.full(size, -1, dtype="int32"), categories=[])
            else:
                d = dt.get(c, np.dtype("object"))
                arr = np.empty(size, dtype=d)
                if d.kind == "O":
                    arr[:] = None
                pieces[c] = arr
        df = pd.DataFrame(pieces, copy=False)
        if index:
            df = df.set_index(index)
            df.index.name = index
        # views AFTER construction/set_index so they alias the arrays
        # the frame actually holds (categoricals expose their codes,
        # the reference's assignable surface)
        views: dict[str, Any] = {}
        for c in cols:
            s = df[c]
            views[c] = (s.values._codes
                        if isinstance(s.dtype, pd.CategoricalDtype)
                        else s.values)
        if index:
            iv = df.index
            views[index] = (iv.values._codes
                            if isinstance(iv.dtype, pd.CategoricalDtype)
                            else iv.values)
        return df, views

    def head(self, nrows: int, columns=None):
        """First ``nrows`` rows (api.py:231-250) — decodes row groups
        (and files) only until enough rows exist.  Routes through
        iter_row_groups so evolved and partition columns get the same
        typed-null / typed-constant treatment as every other read."""
        import pandas as pd

        frames, have = [], 0
        for df in self.iter_row_groups(columns=columns):
            frames.append(df.iloc[:nrows - have])
            have += len(frames[-1])
            if have >= nrows:
                break
        if not frames:
            return self.to_pandas(columns=columns).iloc[:0]
        return pd.concat(frames, ignore_index=True)

    def __len__(self) -> int:
        return self.count_total

    def __getitem__(self, item):
        """Row-group selection by integer or slice (reference
        api.py:251-263): ``pf[2]`` / ``pf[1:3]`` return a ParquetFile
        over exactly those row groups (global row-group order = file
        order, groups in file order within each file).  The copy shares
        footers with the parent — no IO."""
        import copy

        idx = range(len(self.row_groups))[item]
        chosen = {idx} if isinstance(idx, int) else set(idx)
        new = copy.copy(self)
        new._metas = []
        g = 0
        for m in self._metas:
            rgs = m["fmd"]["row_groups"]
            base_map = m.get("rg_map") or list(range(len(rgs)))
            sel = [j for j in range(len(rgs)) if (g + j) in chosen]
            g += len(rgs)
            if sel:
                fmd = dict(m["fmd"])
                fmd["row_groups"] = [rgs[j] for j in sel]
                fmd["num_rows"] = sum(rgs[j]["num_rows"] for j in sel)
                # positions in the REAL footer (slices compose)
                new._metas.append({**m, "fmd": fmd,
                                   "rg_map": [base_map[j] for j in sel]})
        if not new._metas:
            # empty selection keeps the schema (reference: fmd with
            # zero row groups) so to_pandas() yields an empty frame
            fmd = dict(self._metas[0]["fmd"])
            fmd["row_groups"], fmd["num_rows"] = [], 0
            new._metas = [{**self._metas[0], "fmd": fmd}]
        new._fmd0 = new._metas[0]["fmd"]
        return new

    @property
    def sorted_partitioned_columns(self) -> dict:
        """Columns whose row groups are strictly ordered — every
        chunk's values all greater than every previous chunk's
        (reference api.py:905-945 sorted_partitioned_columns):
        ``{col: {'min': [per-rg], 'max': [per-rg]}}``.  A column with
        any missing stat, or any overlap between consecutive groups,
        is excluded.  The module-level function of the same name adds
        the reference's ``filters`` parameter."""
        return sorted_partitioned_columns(self)

    @property
    def helper(self):
        """Alias for ``schema`` (reference api.py:205-207)."""
        return self.schema

    @property
    def partition_meta(self) -> dict:
        """Partition-column pandas metadata by field name (reference
        api.py:223-225)."""
        return {c["field_name"]: c for c in
                self.pandas_metadata.get("partition_columns", [])}

    @property
    def has_pandas_metadata(self) -> bool:
        """Whether a 'pandas' schema JSON rides in the footer
        key-value metadata (reference api.py:547-553)."""
        return bool(self.key_value_metadata.get("pandas"))

    @property
    def pandas_metadata(self) -> dict:
        """The decoded 'pandas' schema JSON, ``{}`` when absent
        (reference api.py:555-562)."""
        import json

        raw = self.key_value_metadata.get("pandas")
        return json.loads(raw) if raw else {}

    @property
    def categories(self) -> dict:
        """Columns stored as pandas Categoricals, name ->
        num_categories, from the pandas metadata (reference
        api.py:564-608; the legacy 'fastparquet.cats' key is also
        honored)."""
        out: dict[str, int] = {}
        for m in self.pandas_metadata.get("columns", []):
            if m.get("pandas_type") == "categorical":
                out[m["name"]] = (m.get("metadata") or {}).get(
                    "num_categories")
        if out:
            return out
        vals = self.key_value_metadata.get("fastparquet.cats")
        if vals:
            import json

            return json.loads(vals)
        return {}

    def check_categories(self, cats):
        """Validate a requested ``categories`` argument against what
        the file was written with (reference api.py:534-545)."""
        categ = self.categories
        if not self.has_pandas_metadata:
            return cats or {}
        if cats is None:
            return categ or {}
        if set(cats) - set(categ):
            raise TypeError("Attempt to read as category a field that "
                            "was not stored as such")
        if isinstance(cats, dict):
            return cats
        return {k: v for k, v in categ.items() if k in cats}

    def row_group_filename(self, rg) -> str:
        """Full path of the part file holding ``rg`` (reference
        api.py:265-273).  Row groups returned by ``self.row_groups``
        resolve by identity; foreign dicts fall back to their chunk's
        embedded ``file_path``."""
        for m in self._metas:
            if any(r is rg for r in m["fmd"]["row_groups"]):
                return self._path(m["file"]) if self._blob is None \
                    else self.fn
        fp = (rg.get("columns") or [{}])[0].get("file_path")
        return self._path(fp) if fp else self.fn

    def __getstate__(self):
        """Picklable state (reference api.py:661-667): the filesystem
        handle is dropped and rebuilt on unpickle, so an open dataset
        can ship into multiprocessing / Dask workers."""
        state = dict(self.__dict__)
        state["_fs"] = None
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._fs = get_fs("." if self._blob is not None else self._root)

    def __str__(self) -> str:
        return f"<ParquetFile {self.fn} ({self.count_total} rows)>"

    __repr__ = __str__


def _apply_object_encoding(table: pa.Table, object_encoding, df):
    """The reference's per-column ``object_encoding`` for object-dtype
    columns (fastparquet/writer.py:114-154): 'infer' leaves pyarrow's
    inference; 'utf8'/'bytes'/'int'/'float'/'bool' cast; 'json'/'bson'
    annotate via the writer's field-metadata hook.  A dict applies per
    column; a bare string applies to every object column."""
    if object_encoding == "infer" or df is None:
        return table
    obj_cols = [c for c in df.columns if df[c].dtype == object
                and c in table.column_names]
    enc_map = object_encoding if isinstance(object_encoding, dict) \
        else {c: object_encoding for c in obj_cols}
    casts = {"utf8": pa.string(), "bytes": pa.binary(),
             "int": pa.int64(), "float": pa.float64(),
             "bool": pa.bool_()}
    for col, enc in enc_map.items():
        if enc == "infer" or col not in table.column_names:
            continue
        i = table.column_names.index(col)
        fld = table.field(i)
        if enc in casts:
            arr = table.column(i).cast(casts[enc])
            table = table.set_column(
                i, pa.field(col, casts[enc], fld.nullable), arr)
        elif enc in ("json", "bson"):
            t = pa.string() if enc == "json" else pa.binary()
            arr = table.column(i).cast(t)
            table = table.set_column(
                i, pa.field(col, t, fld.nullable,
                            metadata={"fpsc:annotation": enc}), arr)
        elif enc == "decimal":
            pass  # pyarrow already infers decimal128 from Decimals
        else:
            raise ValueError(f"unknown object_encoding {enc!r} for "
                             f"column {col!r}")
    return table


def _required_from_has_nulls(has_nulls, table: pa.Table, skip=()):
    """Map the reference's ``has_nulls`` (writer.py:816: True | False |
    'infer' | list-of-nullable-columns) to the writer's REQUIRED
    column set.  Nested and partition columns always stay OPTIONAL."""
    def flat(f):
        return not (pa.types.is_list(f.type) or pa.types.is_large_list(
            f.type) or pa.types.is_struct(f.type)
            or pa.types.is_map(f.type))

    fields = [f for f in table.schema if f.name not in skip and flat(f)]
    if has_nulls is True:
        return None
    if has_nulls is False:
        return {f.name for f in fields}
    if has_nulls == "infer":
        # reference 'infer': only object (string/binary) columns may
        # hold nulls; typed columns are REQUIRED
        def stringy(t):
            t = t.value_type if pa.types.is_dictionary(t) else t
            return (pa.types.is_string(t) or pa.types.is_large_string(t)
                    or pa.types.is_binary(t)
                    or pa.types.is_large_binary(t))
        return {f.name for f in fields if not stringy(f.type)}
    nullable = set(has_nulls)
    return {f.name for f in fields if f.name not in nullable}


def write(filename, data, row_group_offsets: int | list = 50_000_000,
          compression=None, file_scheme: str = "simple",
          partition_on=(), append: bool = False, times: str = "int64",
          custom_metadata: dict | None = None, stats: bool = True,
          has_nulls=True, write_index=None, object_encoding="infer",
          fixed_text=None, **kwargs: Any):
    """The reference's top-level ``write`` (fastparquet/writer.py:810):
    pandas DataFrame (or Arrow table) to a parquet file
    (``file_scheme='simple'``) or a ``key=value``-partitioned dataset
    with ``_metadata`` / ``_common_metadata`` sidecars
    (``file_scheme='hive'`` + ``partition_on``).

    ``row_group_offsets``: int => approximate rows per row group;
    list => explicit start indices of each row group.
    ``compression``: None => UNCOMPRESSED; a codec name or the
    reference's ``{'type': ..., 'args': {'level': N}}`` spec.
    ``append=True`` (hive only) adds new part files and re-merges the
    sidecars.  Extra ``ParquetWriter`` options (``page_rows``,
    ``bloom_filters``, ``encodings``, ``compat``, ``sorting_columns``)
    pass through ``**kwargs``.

    ``filename`` is a path or a URI.  Files are staged and published
    together, then the sidecars rewritten (engine/commit.py): a failed
    write leaves the target's files and sidecars as they were."""
    import uuid

    import pandas as pd

    from fastparquet_spark.engine.commit import (
        discard, drop_sidecars, publish_all, stage_name,
    )
    from fastparquet_spark.format.dataset import (
        check_append, data_files, write_metadata_sidecar,
    )
    from fastparquet_spark.io import relative_to

    if fixed_text:
        # the reference's fixed_text pads/truncates through numpy 'S'
        # dtypes (writer.py:114-154), silently altering values — that
        # breaks this engine's bit-identical round-trip invariant, so
        # it is refused rather than half-honored
        raise NotImplementedError(
            "fixed_text is not supported (it pads/truncates values); "
            "use fixed-size binary columns for FIXED_LEN_BYTE_ARRAY")
    if isinstance(data, pd.DataFrame):
        # write_index=None (reference default): a named/non-default
        # index becomes a column; pyarrow embeds the 'pandas' schema
        # JSON in the metadata, which we forward into
        # key_value_metadata so to_pandas restores the index without
        # being told its name — the reference's behavior
        # (fastparquet/writer.py:719-729, read back api.py:555-562)
        table = pa.Table.from_pandas(data, preserve_index=write_index)
        # an all-None object column infers Arrow type `null`, which no
        # parquet physical type backs; the reference writes object
        # columns as utf8 under 'infer' (writer.py:114-154), so an
        # all-null one is an all-null STRING column
        for i, f in enumerate(table.schema):
            if pa.types.is_null(f.type):
                table = table.set_column(
                    i, pa.field(f.name, pa.string(), True),
                    table.column(i).cast(pa.string()))
        table = _apply_object_encoding(table, object_encoding, data)
        pmd = (table.schema.metadata or {}).get(b"pandas")
        if pmd is not None:
            custom_metadata = dict(custom_metadata or {})
            custom_metadata.setdefault("pandas", pmd.decode())
        table = table.replace_schema_metadata(None)
    elif isinstance(data, pa.Table):
        table = data
    else:
        raise TypeError("data must be a pandas DataFrame or Arrow table")
    comp = compression if compression is not None else "UNCOMPRESSED"
    req = _required_from_has_nulls(has_nulls, table,
                                   skip=set(partition_on))
    if req and isinstance(data, pd.DataFrame):
        # reference semantics for plain-float frames: NaN is a VALUE,
        # not a null — fastparquet writes it into REQUIRED columns
        # (writer.py 'infer'/False treat only object columns as
        # nullable).  Arrow's from_pandas turned those NaNs into
        # nulls; restore them so the REQUIRED declaration holds.
        # Masked extension floats (Float64Dtype) keep real nulls and
        # still fail loudly below if declared non-null.
        import numpy as np
        import pyarrow.compute as pc

        for i, f in enumerate(table.schema):
            if (f.name in req and pa.types.is_floating(f.type)
                    and f.name in data.columns
                    and isinstance(data[f.name].dtype, np.dtype)
                    and data[f.name].dtype.kind == "f"
                    and table.column(i).null_count):
                filled = pc.fill_null(table.column(i), float("nan"))
                table = table.set_column(
                    i, pa.field(f.name, f.type, f.nullable), filled)
            elif (f.name in req
                  and (pa.types.is_timestamp(f.type)
                       or pa.types.is_duration(f.type))
                  and f.name in data.columns
                  and isinstance(data[f.name].dtype, np.dtype)
                  and data[f.name].dtype.kind in "Mm"
                  and table.column(i).null_count):
                # the reference's documented contract: 'floats and
                # times can use the sentinel values NaN and NaT' —
                # NaT is iNaT (int64 min) AS A VALUE in a REQUIRED
                # time column, exactly like NaN in a float one.  The
                # sentinel must be stamped in the STORED unit (ns for
                # times='int96' timestamps, else us): a unit cast after
                # filling would rescale it into a non-sentinel number or
                # overflow, so convert first (truncating like the
                # reference), then fill.
                target = pa.duration("us") \
                    if pa.types.is_duration(f.type) \
                    else pa.timestamp("ns" if times == "int96" else "us",
                                      tz=f.type.tz)
                col = table.column(i)
                if col.type != target:
                    col = pc.cast(col, options=pc.CastOptions(
                        target_type=target, allow_time_truncate=True))
                sentinel = pa.array([-(2 ** 63)], pa.int64()) \
                    .cast(target)[0]
                filled = pc.fill_null(col, sentinel)
                table = table.set_column(
                    i, pa.field(f.name, target, f.nullable), filled)
    if req:
        kwargs.setdefault("required_cols", req)

    # row-group start offsets: an explicit list applies to the whole
    # table (each partition of a split write is then one row group);
    # an int is rows per row group everywhere
    if isinstance(row_group_offsets, (list, tuple)):
        offsets, rg_rows = list(row_group_offsets), None
    else:
        offsets = None
        rg_rows = min(int(row_group_offsets), max(table.num_rows, 1))

    fs = get_fs(filename)
    token = uuid.uuid4().hex[:8]
    pending: list[tuple[str, str]] = []  # (staged, final) per file

    def _emit(path: str, tbl: pa.Table):
        if offsets is not None and tbl is table:
            starts = offsets
        else:
            starts = range(0, tbl.num_rows, rg_rows or max(tbl.num_rows, 1))
        bounds = [*starts, tbl.num_rows]
        pending.append((stage_name(path, token), path))
        with fs.open_write(pending[-1][0]) as f:
            w = ParquetWriter(f, tbl.schema, compression=comp, stats=stats,
                              times=times, custom_metadata=custom_metadata,
                              **kwargs)
            for a, b in zip(bounds, bounds[1:]):
                if b > a:
                    w.write_row_group(tbl.slice(a, b - a))
            w.close()

    if file_scheme == "simple":
        if append:
            raise ValueError(
                "append=True needs file_scheme='hive' (the reference "
                "raises for simple files too, writer.py:976-979)")
    elif file_scheme not in ("hive", "drill"):
        raise ValueError(f"unknown file_scheme {file_scheme!r}")
    pcols = list(partition_on)
    base = None
    start = 0
    created: list[str] = []  # directories this call made, parents first

    def _makedirs(path: str) -> str:
        """Make ``path`` and its missing ancestors, noting each one."""
        new, p = [], path
        while p and not fs.exists(p):
            new.append(p)
            p = p.rpartition("/")[0]
        fs.makedirs(path)
        created.extend(reversed(new))
        return path

    if file_scheme != "simple":
        _makedirs(filename)
    if append:
        import re

        # next index = max existing part number + 1, NOT the file
        # count: naming gaps (deleted part.0, interrupted prior append)
        # must not make a new part.N silently overwrite a live file
        existing = data_files(filename, fs)
        nums = [int(m.group(1)) for p in existing
                for m in [re.fullmatch(r"part\.(\d+)\.parquet",
                                       os.path.basename(p))] if m]
        start = (max(nums) + 1 if nums else len(existing))
        base = check_append(filename, table.drop_columns(pcols).schema,
                            fs=fs, times=times, **kwargs)
    try:
        if file_scheme == "simple":
            _emit(filename, table)
        elif pcols:
            for n, (key, part) in enumerate(_split_by_key(table, pcols),
                                            start):
                d = _makedirs(
                    f"{filename}/{_partition_dir(pcols, key, file_scheme)}")
                _emit(f"{d}/part.{n}.parquet", part)
        else:
            _emit(f"{filename}/part.{start}.parquet", table)
        if file_scheme != "simple":
            drop_sidecars(fs, filename)
        publish_all(fs, pending)
    except BaseException:
        discard(fs, [st for st, _f in pending])
        for d in reversed(created):  # those still empty
            try:
                fs.rmdir(d)
            except OSError:
                pass
        raise
    if file_scheme == "simple":
        return
    # the files written, on the base sidecar if any: a full re-merge
    # would resurrect stale parts a prior fresh write left out of its
    # sidecar; an append with no base sidecar merges every part file
    written = [relative_to(f, filename) for _s, f in pending]
    write_metadata_sidecar(
        filename, fs=fs, base=base,
        files=None if append and base is None else written)


def merge(file_list, verify_schema: bool = True) -> ParquetFile:
    """Create a logical dataset out of multiple parquet files — the
    reference's ``fastparquet.writer.merge`` (writer.py:1156-1193):
    writes a merged ``_metadata`` (+ ``_common_metadata``) sidecar in
    the files' common directory and returns the opened ParquetFile.
    Files must share one directory level and one schema: files whose
    schemas differ raise ``ValueError`` whatever ``verify_schema``
    says, since one sidecar holds one schema (the parameter stays for
    drop-in compatibility).  Each footer is fetched once."""
    from fastparquet_spark.format.dataset import write_metadata_sidecar

    paths = [f.fn if isinstance(f, ParquetFile) else f for f in file_list]
    if not paths:
        raise ValueError("merge needs at least one file")
    from fastparquet_spark.io import common_root, relative_to

    root = common_root(paths)
    rels = [relative_to(p, root) for p in paths]
    # the reference allows files at the root or exactly one directory
    # level below it (writer.py:1165-1172); deeper nesting is rejected
    if any(r.count(os.sep) > 1 for r in rels):
        raise ValueError(
            "merge: files must share one directory, or sit at most one "
            f"level below {root}")
    fs = get_fs(paths[0])
    # the sidecar covers EXACTLY file_list — parquet files under root
    # that were not passed in must not be swept into _metadata
    write_metadata_sidecar(root, fs=fs,
                           files=[r.replace(os.sep, "/") for r in rels])
    return ParquetFile(root, fs=fs)


def statistics(obj) -> dict:
    """Per-row-group min/max/null_count/distinct_count for a
    ``ParquetFile`` (reference api.py:822-903 module function)."""
    return obj.statistics


def filter_row_groups(pf: ParquetFile, filters, as_idx: bool = False):
    """Row groups of ``pf`` surviving the DNF ``filters`` (reference
    api.py:948-999): footer-stat (and hive-partition) pruning only — a
    SUPERSET of the exactly-matching groups.  ``as_idx=True`` returns
    global row-group positions (file order, groups in file order)
    instead of the row-group dicts.  Unknown filter columns raise, as
    the reference does."""
    keep = pf._surviving(dnf(filters))
    out, g = [], 0
    for m in pf._metas:
        rgs = m["fmd"]["row_groups"]
        kept = set(keep.get(m["file"], []))
        out.extend((g + ri) if as_idx else rgs[ri]
                   for ri in range(len(rgs)) if ri in kept)
        g += len(rgs)
    return out


def sorted_partitioned_columns(pf: ParquetFile, filters=None) -> dict:
    """Columns known to be sorted partition-by-partition — every row
    group's values strictly greater than every previous group's
    (reference api.py:905-945): ``{col: {'min': [...], 'max': [...]}}``.
    With ``filters``, only the surviving row groups participate."""
    s = pf.statistics
    if filters:
        idx = filter_row_groups(pf, filters, as_idx=True)
        s = {stat: {c: [vals[i] for i in idx]
                    for c, vals in cols.items()}
             for stat, cols in s.items()}
    out: dict[str, dict] = {}
    for c in pf.columns:
        mins, maxs = s["min"].get(c, []), s["max"].get(c, [])
        if not mins or any(x is None for x in mins + maxs):
            continue
        try:
            if (sorted(mins) == mins and sorted(maxs) == maxs
                    and all(hi < lo for hi, lo
                            in zip(maxs[:-1], mins[1:]))):
                out[c] = {"min": mins, "max": maxs}
        except TypeError:
            continue  # incomparable stat types (e.g. mixed)
    return out


def filter_val(op, val, vmin=None, vmax=None) -> bool:
    """Can a row group whose column spans [vmin, vmax] be EXCLUDED by
    ``col <op> val``?  True means "filter out" (reference
    api.py:1042-1081 filter_val; '=' is accepted as '==').  ``in`` /
    ``not in`` delegate to :func:`filter_in` / :func:`filter_not_in`.
    A ``None`` bound means the stat is unknown on that side and can
    never justify exclusion."""
    return not may_match(op, val, vmin, vmax, None, None)


def filter_in(values, vmin=None, vmax=None) -> bool:
    """Exclude a [vmin, vmax] row group for ``col in values``?  True
    when no member of ``values`` can lie in the range (reference
    api.py:1084-1113): empty value set excludes everything; a constant
    group (vmin == vmax) excludes unless that constant is a member;
    otherwise binary-search the sorted members against the range."""
    return not may_match("in", values, vmin, vmax, None, None)


def filter_not_in(values, vmin=None, vmax=None) -> bool:
    """Exclude a [vmin, vmax] row group for ``col not in values``?
    Only a CONSTANT group (vmin == vmax) whose single value is a member
    can be excluded — any wider range may hold rows outside ``values``.
    The reference (api.py:1116-1139) also drops groups when merely the
    min OR the max is a member, which discards surviving rows; this
    implementation keeps those groups (sound superset contract)."""
    return not may_match("not in", values, vmin, vmax, None, None)


def filter_out_stats(rg, filters, schema) -> bool:
    """Should row group ``rg`` (thrift-decoded dict) be excluded, per
    its column statistics and the AND-list ``filters`` of (col, op,
    val) tuples (reference api.py:761-820)?  ``schema`` is the footer
    schema element list (``fmd['schema']``) or a ``pf.schema`` helper.
    Empty groups are always excluded; an all-null chunk excludes the
    group for every op but ``is_null`` (a null matches nothing else).
    The stats are decoded and judged exactly as ``filter_row_groups``
    judges them."""
    from fastparquet_spark.format.dataset import _chunk_stats, _leaf_elems

    if rg["num_rows"] == 0:
        return True
    elems = _leaf_elems(schema if isinstance(schema, list)
                        else schema.schema_elements)
    return not _chunk_may_match(_chunk_stats(rg, elems), filters or [])


def _typed_values(rel_path: str, partition_meta=None,
                  scheme: str = "hive") -> dict:
    """One path's partition values typed per value, the reference's
    ``val_to_num(meta=)`` contract with no dataset-wide resolution: a
    key whose pandas partition meta is string-typed keeps its raw
    text."""
    out = {}
    for k, raw in _partition_values(rel_path, scheme).items():
        meta = (partition_meta or {}).get(k) or {}
        t = str(meta.get("numpy_type") or meta.get("pandas_type") or "")
        text = raw is None or t.startswith(("object", "str", "unicode",
                                            "bytes"))
        out[k] = raw if text else _coerce_partition_value(raw)
    return out


def filter_out_cats(rg, filters, partition_meta=None) -> bool:
    """Should row group ``rg`` be excluded by its hive partition
    values, per the AND-list ``filters`` (reference api.py:1002-1039)?
    The partition pairs are parsed from the group's first chunk's
    ``file_path``; each behaves as a constant column (vmin == vmax ==
    value)."""
    fp = (rg.get("columns") or [{}])[0].get("file_path") or ""
    pvals = _typed_values(fp, partition_meta)
    return any(not _eval_partition_term(pvals[c], op, val)
               for c, op, val in filters or [] if c in pvals)


def paths_to_cats(paths, partition_meta=None):
    """Partition scheme + observed partition values of a set of file
    paths relative to a dataset root (reference api.py:700-758):
    returns ``(scheme, {field: [values]})`` where scheme is one of
    ``empty`` (no paths), ``simple`` (all empty), ``flat`` (no
    directories), ``other`` (unequal depths), ``hive`` (key=value
    segments) or ``drill`` (bare labels -> dir0..dirN)."""
    from collections import OrderedDict

    from fastparquet_spark.format.dataset import detect_scheme

    paths = list(paths)
    if len(paths) == 0:
        return "empty", {}
    if all(p in (None, "") for p in paths):
        return "simple", {}
    scheme = detect_scheme([p for p in paths if p])
    if scheme in ("flat", "other"):
        return scheme, {}
    cats: "OrderedDict[str, list]" = OrderedDict()
    for p in paths:
        for k, v in _typed_values(p, partition_meta, scheme).items():
            cats.setdefault(k, []).append(v)
    return scheme, OrderedDict((k, _distinct(v)) for k, v in cats.items())
