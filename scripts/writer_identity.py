#!/usr/bin/env python
"""Write one fixed, seeded input through every writer path and print
what each path wrote, so two checkouts can be compared byte for byte.

    python scripts/writer_identity.py /tmp/wid > ids.jsonl

The nine paths: ``encode_dataset`` flat and hive,
``encode_dataset_fpsc``, ``encode_files``, ``encode_files_fpsc``,
``df.write.format("fps")``, ``df.write.format("fpsc")`` and the api
facade's ``api.write(file_scheme="hive")`` and ``"drill"``.  Each prints
one JSON line: the sorted ``(name, sha256)`` pairs of its data files
and, for the engine jobs, the manifest rows' ``file``, ``rows``,
``input_bytes``, ``output_bytes`` and ``columns``.  DataSource file
names carry a random job token; it is masked as ``JOB``.  ``<out>`` is
emptied first.

Inputs are chosen so every path writes several files, row groups or
containers: 6000 rows, row groups and containers of 700 rows, a skewed
repo (salted across tasks), null hive keys, three shuffle tasks.  The
shuffle paths read a one-partition frame, so row order inside each
task does not depend on shuffle fetch order.  The api paths write a
NaN-free table on two key columns, one of whose values are a null (hive
only) and strings that need quoting (``100%25``, ``a b``).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 6000
CHUNK = 700


def _input_table():
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(20261017)
    repo = np.where(rng.random(N_ROWS) < 0.4, 0,
                    rng.integers(1, 12, N_ROWS))
    langs = np.array(["python", "rust", "go", "java"])
    lang = [None if m else str(v) for m, v in
            zip(rng.random(N_ROWS) < 0.05,
                langs[rng.integers(0, 4, N_ROWS)])]
    words = np.array(["import", "return", "def", "self", "value", "index",
                      "for", "in", "range", "None", "print", "class"])
    content = [" ".join(words[rng.integers(0, 12, 8 + i % 23)])
               for i in range(N_ROWS)]
    score = rng.normal(size=N_ROWS)
    score[rng.random(N_ROWS) < 0.03] = np.nan
    return pa.table({
        "repo": pa.array([f"repo-{r:02d}" for r in repo]),
        "path": pa.array([f"src/m{i % 97}/f{i:05d}.py" for i in range(N_ROWS)]),
        "lang": pa.array(lang, pa.string()),
        "content": pa.array(content),
        "size": pa.array(rng.integers(0, 1 << 20, N_ROWS)),
        "score": pa.array(score),
    })


def _api_table():
    import pyarrow as pa

    tags = ["100%25", "a b", "plain", None]
    return pa.table({
        "tag": pa.array([tags[i % 4] for i in range(N_ROWS // 10)],
                        pa.string()),
        "year": pa.array([2020 + i % 3 for i in range(N_ROWS // 10)]),
        "v": pa.array(range(N_ROWS // 10)),
        "s": pa.array([f"row {i}" for i in range(N_ROWS // 10)]),
    })


def _files(root: str, suffix: str) -> list:
    out = []
    for d, _dirs, names in os.walk(root):
        for name in names:
            rel = os.path.relpath(os.path.join(d, name), root)
            if not rel.endswith(suffix) or any(
                    seg.startswith((".", "_")) for seg in rel.split(os.sep)):
                continue
            with open(os.path.join(d, name), "rb") as fh:
                sha = hashlib.sha256(fh.read()).hexdigest()
            out.append([re.sub(r"part-[0-9a-f]{8}-", "part-JOB-", rel), sha])
    return sorted(out)


def _manifest(df) -> list:
    return sorted([r["file"], r["rows"], r["input_bytes"], r["output_bytes"],
                   r["columns"]] for r in df.collect())


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    out = os.path.abspath(argv[0])
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    import pyarrow.parquet as pq
    from pyspark.sql import SparkSession

    from fastparquet_spark.engine import encode_dataset, encode_files
    from fastparquet_spark.engine.file_job import encode_files_fpsc
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc
    from fastparquet_spark.sources import FpscDataSource, FpsDataSource

    spark = (SparkSession.builder.master("local[2]")
             .appName("writer-identity")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "4")
             .getOrCreate())
    spark.dataSource.register(FpsDataSource)
    spark.dataSource.register(FpscDataSource)
    tbl = _input_table()
    df = spark.createDataFrame(tbl)
    one = df.coalesce(1)
    src = os.path.join(out, "input")
    os.makedirs(src)
    for k in range(2):
        pq.write_table(tbl.slice(k * N_ROWS // 2, N_ROWS // 2),
                       os.path.join(src, f"in-{k}.parquet"),
                       row_group_size=1500)

    def report(name, root, suffix, manifest=None):
        line = {"path": name}
        if manifest is not None:  # collect first: the engine jobs are lazy
            line["manifest"] = _manifest(manifest)
        line["files"] = _files(root, suffix)
        print(json.dumps(line, sort_keys=True), flush=True)

    shuffle = dict(num_partitions=3, salt_rows=1000)
    root = os.path.join(out, "dataset_flat")
    report("encode_dataset_flat", root, ".parquet", encode_dataset(
        spark, one, root, row_group_rows=CHUNK, **shuffle))
    root = os.path.join(out, "dataset_hive")
    report("encode_dataset_hive", root, ".parquet", encode_dataset(
        spark, one, root, row_group_rows=CHUNK, layout="hive",
        partition_cols=("lang",), **shuffle))
    root = os.path.join(out, "dataset_fpsc")
    report("encode_dataset_fpsc", root, ".fpsc", encode_dataset_fpsc(
        spark, one, root, rows_per_container=CHUNK, pretrain_rows=500,
        **shuffle))
    root = os.path.join(out, "files")
    report("encode_files", root, ".parquet",
           encode_files(spark, src, root, rows_per_task=3000))
    root = os.path.join(out, "files_fpsc")
    report("encode_files_fpsc", root, ".fpsc", encode_files_fpsc(
        spark, src, root, rows_per_task=3000, pretrain_rows=500))
    root = os.path.join(out, "source_fps")
    df.write.format("fps").mode("append").option("row_group_rows", CHUNK).save(root)
    report("format_fps", root, ".parquet")
    root = os.path.join(out, "source_fpsc")
    (df.write.format("fpsc").mode("append").option("rows_per_container", CHUNK)
     .option("bloom_columns", "path").save(root))
    report("format_fpsc", root, ".fpsc")
    spark.stop()

    import pyarrow.compute as pc

    from fastparquet_spark import api

    atbl = _api_table()
    root = os.path.join(out, "api_hive")
    api.write(root, atbl, file_scheme="hive", partition_on=["tag", "year"],
              row_group_offsets=CHUNK // 10)
    report("api_write_hive", root, ".parquet")
    root = os.path.join(out, "api_drill")
    api.write(root, atbl.filter(pc.is_valid(atbl["tag"])),
              file_scheme="drill", partition_on=["tag", "year"],
              row_group_offsets=CHUNK // 10)
    report("api_write_drill", root, ".parquet")
    return 0


if __name__ == "__main__":
    sys.exit(main())
