"""Seeded input generators.  The same seed always yields the same inputs;
the package under test only ever sees the generated tables and files.
(The analytics workload reads fixed tables instead: ``data/sf0.01``.)"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the columns of ``source_table`` (before the optional ``row_id``)
COLUMNS = ("repo", "path", "commit", "lang", "content")


def source_table(n_rows: int, seed: int, row_id: bool = False) -> pa.Table:
    """The engine's synthetic source-code table (repo/path/commit/lang/
    content, Zipf-skewed repos), optionally with a monotone ``row_id``."""
    from fastparquet_spark.engine.datagen import synthetic_arrow_table

    tbl = synthetic_arrow_table(n_rows, seed=seed)
    if row_id:
        tbl = tbl.append_column("row_id", pa.array(np.arange(n_rows, dtype=np.int64)))
    return tbl


def write_input_dir(tbl: pa.Table, out_dir: str, files: int,
                    row_group_rows: int) -> None:
    """Split ``tbl`` into ``files`` parquet files (pyarrow's writer, so
    the input does not depend on the code under test)."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-tbl.num_rows // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * per, per),
                       os.path.join(out_dir, f"input-{i:03d}.parquet"),
                       row_group_size=row_group_rows)


def facade_frame(n_rows: int, seed: int):
    """A pandas frame of the source table plus typed numeric columns."""
    tbl = source_table(n_rows, seed)
    rng = np.random.default_rng(seed)
    df = tbl.to_pandas()
    df["row_id"] = np.arange(n_rows, dtype=np.int64)
    df["size"] = rng.integers(0, 1 << 20, n_rows).astype(np.int32)
    df["score"] = rng.normal(0, 1, n_rows)
    # microseconds: the facade stores int64 times as TIMESTAMP_MICROS
    df["ts"] = (np.datetime64("2020-01-01", "us")
                + rng.integers(0, 10**14, n_rows).astype("timedelta64[us]"))
    df["flag"] = rng.random(n_rows) < 0.5
    return df
