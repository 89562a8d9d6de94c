"""``encode_scan`` workload: the paper's write path and the read path
through our own metadata, pruning and decoders, on one seeded
source-code table (repo/path/commit/lang/content, Zipf-skewed repos).

Each pass
- encodes the table with ``encode_files`` (parquet),
  ``encode_files_fpsc`` and ``encode_dataset`` (the shuffle path,
  repartitioned by (repo, lang));
- scans datasets written once at set-up by our own writers (the table
  plus a monotone ``row_id``: parquet with a page index and a bloom
  filter on ``path``, and fpsc) in full through
  ``spark.read.format("fps")`` and ``read_fpsc``;
- runs a closed loop of selective lookups with one client through the
  fps source: half ``path ==`` (bloom pruning), half narrow ``row_id``
  ranges (page-index pruning).

The write and read paths share one run because each run pays 20-30 s
of set-up for the Spark session, the first job and the warm-up.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from harness import MB, SparkStatus, cores, dir_bytes, median
from inputs import COLUMNS
from layers import codec_layer, format_layer

N_ROWS = 40_000
FILES = 4
ROWS_PER_TASK = 10_000
SCAN_ROW_GROUP_ROWS = 5_000
PAGE_ROWS = 1_000
PASSES = 2
#: 2 passes x 6 lookups.  A lookup costs about 0.7-1 s, mostly Spark
#: planning; 40 of them (ten beyond p75) would make every run 20-30 s
#: longer
LOOKUPS_PER_PASS = 6
#: the warm-up pass encodes a small slice: it only has to start the
#: workers and load the code paths
WARM_UP_ROWS = 4_000
WARM_UP_LOOKUPS = 2
RANGE_ROWS = 50
PROBE_ROWS = 40_000
PROBED_LOOKUPS = 8
KINDS = ("parquet", "fpsc", "shuffle")


def row_digest(con, relation: str) -> tuple[int, int]:
    """(rows, order-independent sum of per-row hashes) via DuckDB."""
    cols = ", ".join(COLUMNS)
    n, h = con.execute(f"SELECT count(*), sum(hash({cols})::HUGEINT) "
                       f"FROM {relation}").fetchone()
    return int(n), int(h or 0)


def full_scan(df):
    """Aggregates over every column, so every value is decoded."""
    from pyspark.sql import functions as F

    return df.agg(F.count("*").alias("n"), F.sum("row_id").alias("ids"),
                  *[F.sum(F.length(c)).alias(c) for c in COLUMNS]).collect()[0]


def write_scan_datasets(tbl, pq_dir: str, fpsc_dir: str) -> None:
    """The scanned datasets: parquet files with a page index and a bloom
    filter on ``path``, and as many fpsc containers."""
    from fastparquet_spark.format import write_file
    from fastparquet_spark.format.container import write_container

    os.makedirs(pq_dir)
    os.makedirs(fpsc_dir)
    per = -(-tbl.num_rows // FILES)
    for i in range(FILES):
        part = tbl.slice(i * per, per)
        write_file(os.path.join(pq_dir, f"part-{i:05d}.parquet"), part,
                   compression="ZSTD", row_group_rows=SCAN_ROW_GROUP_ROWS,
                   page_rows=PAGE_ROWS, bloom_filters={"path": 0.01})
        with open(os.path.join(fpsc_dir, f"part-{i:05d}.fpsc"), "wb") as fh:
            write_container(fh, part, compression="ZSTD")


def run(bench, ctx) -> dict:
    import duckdb
    import pyarrow as pa
    from pyspark.sql import functions as F

    from fastparquet_spark.engine import encode_dataset, encode_files
    from fastparquet_spark.engine.file_job import encode_files_fpsc
    from fastparquet_spark.engine.fpsc_job import read_fpsc
    from fastparquet_spark.format.container import read_container
    from fastparquet_spark.sources import FpsDataSource
    from inputs import source_table, write_input_dir

    tracer = bench.tracer
    with tracer.span("setup.spark"):
        spark = ctx.start_spark()
        spark.dataSource.register(FpsDataSource)
    if bench.trace:
        bench.status = SparkStatus(spark)
    in_dir, warm_dir = ctx.path("input"), ctx.path("input-warm-up")
    pq_dir, fpsc_dir = ctx.path("parquet"), ctx.path("fpsc")
    with tracer.span("setup.inputs"):
        tbl = source_table(N_ROWS, ctx.seed, row_id=True)
        source = tbl.drop_columns(["row_id"])
        write_input_dir(source, in_dir, FILES, ROWS_PER_TASK)
        write_input_dir(source.slice(0, WARM_UP_ROWS), warm_dir, FILES, ROWS_PER_TASK)
    with tracer.span("setup.scan_datasets"):
        write_scan_datasets(tbl, pq_dir, fpsc_dir)
    in_bytes, scan_bytes = source.nbytes, tbl.nbytes
    inputs = {d: spark.read.parquet(d) for d in (in_dir, warm_dir)}

    con = duckdb.connect()
    con.register("source", tbl)
    expect = {in_dir: row_digest(con, "source"),
              warm_dir: row_digest(con, f"read_parquet('{warm_dir}/*.parquet')")}
    lens = ", ".join(f"sum(length({c}))" for c in COLUMNS)
    expect_agg = tuple(int(v) for v in con.execute(
        f"SELECT count(*), sum(row_id), {lens} FROM source").fetchone())
    stored: dict[str, list[float]] = {}
    manifests: list[list] = []

    def encode_check(kind: str, src: str, out: str):
        def check(rows):
            if kind == "fpsc":
                files = sorted(f for f in os.listdir(out) if f.endswith(".fpsc"))
                con.register("decoded", pa.concat_tables(
                    read_container(os.path.join(out, f)) for f in files))
                got = row_digest(con, "decoded")
                con.unregister("decoded")
            else:
                got = row_digest(con, f"read_parquet('{out}/*.parquet')")
            if src == in_dir:
                stored.setdefault(kind, []).append(dir_bytes(out) / in_bytes)
            if kind == "parquet" and bench.tracer.enabled:
                manifests.append(rows)
            shutil.rmtree(out)
            if got != expect[src]:
                return f"{kind}: decoded (rows, hash) {got} != source {expect[src]}"
            return None
        return check

    def scan_check(row):
        got = tuple(int(row[k]) for k in ("n", "ids") + COLUMNS)
        return None if got == expect_agg else f"aggregates {got} != {expect_agg}"

    paths = tbl.column("path")
    rng = random.Random(ctx.seed)

    def next_clause(i: int):
        if i % 2:
            lo = rng.randrange(N_ROWS - RANGE_ROWS)
            return [("row_id", ">=", lo), ("row_id", "<", lo + RANGE_ROWS)]
        return [("path", "==", paths[rng.randrange(N_ROWS)].as_py())]

    def expected_ids(clause):
        where = " AND ".join(f"{c} {'=' if op == '==' else op} ?" for c, op, _ in clause)
        return sorted(r[0] for r in con.execute(
            f"SELECT row_id FROM source WHERE {where}",
            [v for _c, _op, v in clause]).fetchall())

    def lookup(clause):
        cond = None
        for c, op, v in clause:
            term = {"==": F.col(c) == v, ">=": F.col(c) >= v, "<": F.col(c) < v}[op]
            cond = term if cond is None else cond & term
        # a fresh DataFrame per lookup: concurrent queries (the warm-up's)
        # on one fps DataFrame return wrong rows
        return spark.read.format("fps").load(pq_dir).filter(cond).collect()

    clauses_seen = []

    def run_pass(i):
        src = warm_dir if i < 0 else in_dir
        outs = {k: ctx.path(f"out-{k}-{i}") for k in KINDS}
        bench.op("encode.parquet", "engine.encode_files", lambda: encode_files(
            spark, src, outs["parquet"], compression="ZSTD",
            rows_per_task=ROWS_PER_TASK, resume=False).collect(),
            encode_check("parquet", src, outs["parquet"]))
        bench.op("encode.fpsc", "engine.encode_files_fpsc", lambda: encode_files_fpsc(
            spark, src, outs["fpsc"], compression="ZSTD",
            rows_per_task=ROWS_PER_TASK, resume=False).collect(),
            encode_check("fpsc", src, outs["fpsc"]))
        bench.op("encode.shuffle", "engine.encode_dataset", lambda: encode_dataset(
            spark, inputs[src], outs["shuffle"], compression="ZSTD",
            partition_cols=("repo", "lang"), num_partitions=cores(),
            resume=False).collect(),
            encode_check("shuffle", src, outs["shuffle"]))
        bench.op("scan.fps", "sources.fps_scan",
                 lambda: full_scan(spark.read.format("fps").load(pq_dir)), scan_check)
        bench.op("scan.fpsc", "engine.read_fpsc",
                 lambda: full_scan(read_fpsc(spark, fpsc_dir)), scan_check)
        for k in range(WARM_UP_LOOKUPS if i < 0 else LOOKUPS_PER_PASS):
            clause = next_clause(k)
            clauses_seen.append(clause)
            want = expected_ids(clause)
            bench.op("lookup", "sources.fps_lookup", lambda c=clause: lookup(c),
                     lambda rows, c=clause, want=want:
                     None if sorted(r["row_id"] for r in rows) == want
                     else f"lookup {c}: row_ids differ from DuckDB")

    bench.warm_up(run_pass)
    ctx.setup_done()
    bench.passes(run_pass, min_passes=PASSES)

    ratio = {k: median(v) for k, v in stored.items()}
    lookups = bench.op_secs["lookup"]
    n = len(bench.pass_s)
    report = [(f"encode_mbps.{k}", in_bytes / MB / bench.op_median(f"encode.{k}"), "MB/s", n)
              for k in KINDS]
    report += [(f"stored_ratio.{k}", ratio[k], "ratio", 0) for k in ("parquet", "fpsc")]
    report += [(f"scan_mbps.{k}", scan_bytes / MB / bench.op_median(f"scan.{k}"), "MB/s", n)
               for k in ("fps", "fpsc")]
    report += [("lookup_s.p50", median(lookups), "s", len(lookups)),
               ("lookup_s.p75", statistics.quantiles(lookups, n=4, method="inclusive")[2],
                "s", len(lookups)),
               ("input_mb", in_bytes / MB, "MB", 0)]
    out = {
        "stored_ratio": (ratio["parquet"] + ratio["fpsc"]) / 2,
        "report": report,
        "spark_ops": {"encode.parquet": "encode_parquet", "encode.fpsc": "encode_fpsc",
                      "encode.shuffle": "encode_shuffle", "scan.fps": "scan_fps",
                      "scan.fpsc": "scan_fpsc", "lookup": "lookup"},
        "layers": {},
    }
    if bench.trace:
        layers = out["layers"]
        layers.update(_engine_layer(bench, in_dir, manifests))
        layers.update(_lookup_layer(bench, spark, pq_dir, clauses_seen[:PROBED_LOOKUPS]))
        native = []
        for i in range(4):
            t0 = time.perf_counter()
            with tracer.span("spark.native_parquet_scan"):
                row = full_scan(spark.read.parquet(pq_dir))
            if i:  # the first is a warm-up
                native.append(time.perf_counter() - t0)
            bench.check("spark.native_parquet_scan", scan_check(row) is None,
                        "native scan aggregates differ")
        layers["sources.fps_vs_native"] = bench.op_median("scan.fps") / median(native)
        probe = tbl.slice(0, PROBE_ROWS)
        layers.update(codec_layer(tracer, probe))
        layers.update(format_layer(tracer, bench, probe))
    con.close()
    return out


def _engine_layer(bench, in_dir: str, manifests) -> dict:
    """Split planning, and the parquet encode's manifest rows: summed
    task seconds, the writer's share, the input read, and the wall time
    no task accounts for."""
    from fastparquet_spark.engine import plan_splits

    plan = []
    for _ in range(3):
        t0 = time.perf_counter()
        with bench.tracer.span("engine.plan_splits"):
            plan_splits(in_dir, ROWS_PER_TASK)
        plan.append(time.perf_counter() - t0)
    plan_s = median(plan)
    task = median([sum(r["encode_secs"] for r in m) for m in manifests])
    write = median([sum(r["kernel_secs"] for r in m) for m in manifests])
    return {
        "engine.plan_splits_s": plan_s,
        "engine.task_s": task,
        "engine.write_s": write,
        "engine.input_read_s": task - write,
        "engine.overhead_s": (bench.op_median("encode.parquet", traced=True)
                              - plan_s - task / cores()),
    }


def _lookup_layer(bench, spark, pq_dir: str, clauses) -> dict:
    """Per-lookup breakdown through each layer's public functions with
    the lookup's own clause; medians over the probed lookups."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from fastparquet_spark.engine import paged_read
    from fastparquet_spark.format.dataset import (
        filter_row_groups, load_dataset_metas, read_pages,
    )
    from fastparquet_spark.io import CountingFS, LocalFS
    from fastparquet_spark.sources.fps_source import FpsReader

    tracer = bench.tracer
    pushed = {"==": EqualTo, ">=": GreaterThanOrEqual, "<": LessThan}
    rows = {k: [] for k in ("load", "filter", "read", "bytes", "opens", "kept",
                            "decoded", "parts", "plan")}
    for i, clause in enumerate(clauses):
        op = f"lookup{i}"
        with tracer.span("lookup.breakdown", op=op):
            fs = CountingFS(LocalFS())
            t0 = time.perf_counter()
            with tracer.span("format.load_dataset_metas", op=op):
                root, metas = load_dataset_metas(pq_dir, fs=fs)
            t1 = time.perf_counter()
            with tracer.span("format.filter_row_groups", op=op):
                survivors = filter_row_groups(root, [clause], fs=fs, metas=metas)
            t2 = time.perf_counter()
            exact_rows = decoded_rows = hits = 0
            with tracer.span("format.read_pages", op=op):
                for f, ri in survivors:
                    got = read_pages(f"{root}/{f}", [clause], exact=True, row_groups=[ri])
                    exact_rows += got.num_rows
                    hits += got.num_rows > 0
            t3 = time.perf_counter()
            for f, ri in survivors:
                decoded_rows += read_pages(f"{root}/{f}", [clause], exact=False,
                                           row_groups=[ri]).num_rows
            reader = FpsReader(pq_dir, None)
            reader.pushFilters([pushed[o]((c,), v) for c, o, v in clause])
            t4 = time.perf_counter()
            with tracer.span("sources.fps_partitions", op=op):
                reader.partitions()
            t5 = time.perf_counter()
            with tracer.span("engine.paged_read_plan", op=op):
                paged_read(spark, pq_dir, clause)
            t6 = time.perf_counter()
        rows["load"].append(t1 - t0)
        rows["filter"].append(t2 - t1)
        rows["read"].append(t3 - t2)
        rows["bytes"].append(fs.bytes_read)
        rows["opens"].append(fs.opens)
        rows["kept"].append(len(survivors) / max(1, hits))
        rows["decoded"].append(decoded_rows / max(1, exact_rows))
        rows["parts"].append(t5 - t4)
        rows["plan"].append(t6 - t5)
        bench.check("lookup.breakdown", exact_rows > 0, f"{clause}: no rows read back")
    return {
        "format.load_dataset_metas_s": median(rows["load"]),
        "format.filter_row_groups_s": median(rows["filter"]),
        "format.read_pages_s": median(rows["read"]),
        "format.meta_bytes_read": median(rows["bytes"]),
        "format.meta_opens": median(rows["opens"]),
        "format.rowgroups_kept_per_hit": median(rows["kept"]),
        "format.rows_decoded_per_returned": median(rows["decoded"]),
        "sources.fps_partitions_s": median(rows["parts"]),
        "engine.paged_read_plan_s": median(rows["plan"]),
    }
