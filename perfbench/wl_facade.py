"""``facade`` workload: a single-process pandas round trip with no Spark,
``api.write`` of a seeded frame and ``api.ParquetFile(...).to_pandas()``.
The only workload that calls the ``api`` layer and the full-file reader;
kernel gains show here with no scheduler in the way."""

from __future__ import annotations

import os

import pyarrow as pa

from harness import MB, median
from layers import codec_layer, format_layer

N_ROWS = 200_000
PASSES = 4
PROBE_ROWS = 50_000


def run(bench, ctx) -> dict:
    import pandas as pd
    import pyarrow.parquet as pq

    from fastparquet_spark import api
    from fastparquet_spark.format import read_file, write_file
    from inputs import facade_frame

    tracer = bench.tracer
    with tracer.span("setup.inputs"):
        df = facade_frame(N_ROWS, ctx.seed)
        in_bytes = pa.Table.from_pandas(df, preserve_index=False).nbytes
    path = ctx.path("facade.parquet")

    def check_written(_):
        n = pq.read_metadata(path).num_rows  # an independent reader
        return None if n == N_ROWS else f"pyarrow sees {n} rows, wrote {N_ROWS}"

    def check_read(got):
        pd.testing.assert_frame_equal(got, df)

    def run_pass(_i):
        bench.op("write", "api.write",
                 lambda: api.write(path, df, compression="ZSTD"), check_written)
        bench.op("read", "api.read",
                 lambda: api.ParquetFile(path).to_pandas(), check_read)

    bench.warm_up(run_pass, threads=1)  # the read needs the write
    stored = os.path.getsize(path)
    ctx.setup_done()
    bench.passes(run_pass, min_passes=PASSES)

    write_s = bench.op_median("write")
    read_s = bench.op_median("read")
    out = {
        "stored_ratio": stored / in_bytes,
        "report": [
            ("facade_write_mbps", in_bytes / MB / write_s, "MB/s", len(bench.op_secs["write"])),
            ("facade_read_mbps", in_bytes / MB / read_s, "MB/s", len(bench.op_secs["read"])),
            ("stored_ratio", stored / in_bytes, "ratio", 0),
        ],
        "layers": {},
    }
    if bench.trace:
        tbl = pa.Table.from_pandas(df, preserve_index=False)
        fpath = ctx.path("format.parquet")
        fw = []
        for _ in range(3):
            with tracer.span("format.write_file") as rec:
                write_file(fpath, tbl, compression="ZSTD")
            fw.append(rec["end"] - rec["start"])
        fr = []
        for _ in range(3):
            with tracer.span("format.read_file") as rec:
                read_file(fpath)
            fr.append(rec["end"] - rec["start"])
        layers = out["layers"]
        layers["api.write_convert_s"] = bench.op_median("write", traced=True) - median(fw)
        layers["api.read_convert_s"] = bench.op_median("read", traced=True) - median(fr)
        probe = tbl.slice(0, PROBE_ROWS)
        layers.update(codec_layer(tracer, probe))
        layers.update(format_layer(tracer, bench, probe))
    return out
