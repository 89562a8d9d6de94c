"""The one partition writer: every engine and DataSource writer streams
its rows through ``write_partition`` into the files of a format object,
as the reference writes every dataset through ``partition_on_columns``
(the hive split, fastparquet/writer.py:1066-1105) and ``make_part_file``
(each file, :672-695; SURVEY.md §3.1).

The format objects are ``format.dataset.ParquetFormat`` and
``format.container.FpscFormat``; their docstrings hold the format
contract this writer uses (``suffix``, ``file_per_chunk``, ``open``).
Staging, publishing and the manifest follow engine/commit.py and stay
with the caller.  ``MANIFEST_SCHEMA`` is the one schema of the manifest
rows every encode job returns.
"""

from __future__ import annotations

import json
import time

import pyarrow as pa

from fastparquet_spark.engine.commit import _u_join
from fastparquet_spark.format.dataset import _partition_dir, _split_by_key

# byte cap on one key's buffered rows: fat rows cut a short chunk
# before chunk_rows rows are buffered
_MAX_BUFFER_BYTES = 512 << 20

MANIFEST_SCHEMA = pa.schema([
    ("partition", pa.int32()),
    ("file", pa.string()),
    ("rows", pa.int64()),
    ("input_bytes", pa.int64()),
    ("output_bytes", pa.int64()),
    ("encode_secs", pa.float64()),
    ("kernel_secs", pa.float64()),
    ("skipped", pa.bool_()),
    ("columns", pa.string()),  # json {name: encoding}
])


def _manifest_struct():
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(MANIFEST_SCHEMA)


def _arrow_manifest_batch(row: dict) -> pa.RecordBatch:
    # manifests written before kernel_secs existed read as 0.0
    return pa.RecordBatch.from_pylist([{"kernel_secs": 0.0, **row}],
                                      schema=MANIFEST_SCHEMA)


class _Key:
    """One key's buffered rows and the file they stream into."""

    def __init__(self, key: tuple):
        self.key = key
        self.buf: list[pa.Table] = []
        self.rows = self.nbytes = 0
        self.sink = self.file = self.row = None  # the open file

    def add(self, tbl: pa.Table, chunk_rows: int) -> list[pa.Table]:
        """Buffer ``tbl``; return the chunks now ready: every full
        ``chunk_rows`` chunk (the remainder stays buffered, so steady
        chunks are uniform), or everything once the byte cap is hit."""
        self.buf.append(tbl)
        self.rows += tbl.num_rows
        self.nbytes += tbl.nbytes
        if self.rows >= chunk_rows:
            whole = pa.concat_tables(self.buf)
            end = (self.rows // chunk_rows) * chunk_rows
            rest = whole.slice(end)
            self.buf = [rest] if rest.num_rows else []
            self.rows, self.nbytes = rest.num_rows, rest.nbytes
            return [whole.slice(s, chunk_rows) for s in range(0, end, chunk_rows)]
        return self.drain() if self.nbytes >= _MAX_BUFFER_BYTES else []

    def drain(self) -> list[pa.Table]:
        ready = [pa.concat_tables(self.buf)] if self.rows else []
        self.buf, self.rows, self.nbytes = [], 0, 0
        return ready


def write_partition(batches, fmt, stage, fs, out_dir: str, family: str, *,
                    chunk_rows: int, hive_cols=()) -> list[dict]:
    """Stream ``batches`` into ``fmt`` files under ``out_dir``; returns
    one manifest row (``file`` relative to ``out_dir``, ``rows``,
    ``input_bytes``, ``kernel_secs``, ``output_bytes``, ``columns``) per
    file, in close order.  An empty stream writes nothing.

    Files are ``{family}{fmt.suffix}`` (one per key; a key that comes
    back after its file closed gets ``{family}-rN``, so no file is
    clobbered) or, with ``fmt.file_per_chunk``, ``{family}-NNN`` (one
    per chunk, numbered across the task), in ``col=value/`` directories when ``hive_cols`` is set,
    the key columns dropped from the data.  A chunk is ``chunk_rows``
    rows, or fewer when a key's buffer reaches ``_MAX_BUFFER_BYTES`` or
    the key ends.  Each file is written to ``stage(final)``; on an error
    the open sinks are closed and the error raised, for the caller to
    abort."""
    hive_cols = list(hive_cols)
    done: list[dict] = []
    live: dict[tuple, _Key] = {}
    reopened: dict[tuple, int] = {}  # files already closed per key

    def emit(k: _Key, chunk: pa.Table) -> None:
        t0 = time.perf_counter()
        if k.file is None:
            seq = reopened.get(k.key, 0)
            base = f"{family}-{len(done):03d}" if fmt.file_per_chunk \
                else f"{family}-r{seq}" if seq else family
            rel = base + fmt.suffix
            if hive_cols:
                rel = f"{_partition_dir(hive_cols, k.key)}/{rel}"
                fs.makedirs(_u_join(out_dir, rel).rsplit("/", 1)[0])
            k.sink = fs.open_write(stage(_u_join(out_dir, rel)))
            k.row = {"file": rel, "rows": 0, "input_bytes": 0,
                     "kernel_secs": 0.0}
            k.file = fmt.open(k.sink, chunk.schema)
        k.file[0](chunk)
        k.row["rows"] += chunk.num_rows
        k.row["input_bytes"] += chunk.nbytes
        k.row["kernel_secs"] += time.perf_counter() - t0
        if fmt.file_per_chunk:
            close(k)

    def close(k: _Key) -> None:
        t0 = time.perf_counter()
        cols, k.row["output_bytes"] = k.file[1]()
        k.sink.close()
        k.row["kernel_secs"] += time.perf_counter() - t0
        k.row["columns"] = json.dumps(cols)
        done.append(k.row)
        k.file = None

    def finish(k: _Key) -> None:
        for chunk in k.drain():
            emit(k, chunk)
        if k.file is not None:
            close(k)
        reopened[k.key] = reopened.get(k.key, 0) + 1
        del live[k.key]

    try:
        for b in batches:
            tbl = pa.Table.from_batches([b])
            pieces = _split_by_key(tbl, hive_cols) if hive_cols else [((), tbl)]
            seen = set()
            for key, piece in pieces:
                seen.add(key)
                k = live.get(key)
                if k is None:
                    k = live[key] = _Key(key)
                for chunk in k.add(piece, chunk_rows):
                    emit(k, chunk)
            # the sort clusters keys, so a key absent from this batch is
            # done: closing it bounds open files by keys per batch, not
            # keys per task
            for k in [k for key, k in live.items() if key not in seen]:
                finish(k)
        for k in list(live.values()):
            finish(k)
    except BaseException:
        for k in live.values():
            if k.sink is not None:
                k.sink.close()  # closing a closed sink is a no-op
        raise
    return done
