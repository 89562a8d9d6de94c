"""Spark-free failure matrix for the staged-commit protocol
(fastparquet_spark/engine/commit.py).

``FaultyFS`` fails the Nth ``open_write`` or ``replace`` of an otherwise
plain ``LocalFS``.  Every write shape the engine has — one file per
task (split encode), several files per task (shuffle encode, hive
dirs), the real ``write_partition`` (parquet hive files, fpsc
containers) and the driver-side DataSource commit with and without
overwrite — is run once per injectable call; after each failure and
its abort:

- a task's final visible without its manifest is byte-identical to the
  clean run's and the retry replaces it (a failed attempt leaves its
  finals: a twin may count them as its own durable output); for the
  DataSource commit the visible files are exactly the old ones;
- no stage file is left;
- a retry publishes output byte-identical to a clean run.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from fastparquet_spark.engine.commit import (
    TaskCommit, abort_job, begin_job, publish_job, stage_name,
)
from fastparquet_spark.engine.write import write_partition
from fastparquet_spark.format.container import FpscFormat
from fastparquet_spark.format.dataset import ParquetFormat
from fastparquet_spark.io import LocalFS


class FaultyFS:
    """``LocalFS`` that raises ``OSError`` on the ``nth`` call (1-based)
    of operation ``op``; ``nth=0`` never fails and only counts calls."""

    def __init__(self, op: str, nth: int = 0):
        self.inner = LocalFS()
        self.op = op
        self.nth = nth
        self.calls = 0

    def __getattr__(self, name):
        fn = getattr(self.inner, name)
        if name != self.op:
            return fn

        def faulty(*args):
            self.calls += 1
            if self.calls == self.nth:
                raise OSError(f"injected failure of {name} call {self.nth}")
            return fn(*args)
        return faulty


def _tree(root: str) -> dict[str, str]:
    """relative path -> sha256 of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def _visible(tree: dict) -> set[str]:
    return {p for p in tree
            if not any(seg.startswith((".", "_")) for seg in p.split(os.sep))}


def _task(files: dict[str, bytes], family: str):
    """One task attempt staging ``files`` (relative path -> bytes) and
    committing them with a manifest listing their names."""

    def write(fs, root: str, task) -> list:
        for rel, data in files.items():
            final = os.path.join(root, rel)
            os.makedirs(os.path.dirname(final), exist_ok=True)
            with fs.open_write(task.stage(final)) as sink:
                sink.write(data)
        return sorted(files)

    return _committed(write, family)


def _partition(fmt, hive_cols=()):
    """One task attempt streaming a fixed table through the real
    ``write_partition`` into files of a fresh ``fmt()`` plug-in and
    committing its manifest rows (timings dropped, so clean and retried
    manifests compare equal)."""
    tbl = pa.table({"k": pa.array(["a", "b", "a", "b", "a"] * 60),
                    "v": pa.array(range(300))})
    # key "b" is absent from the middle batch: its parquet file closes
    # and reopens as -r1
    batches = [tbl.slice(0, 100).to_batches()[0],
               tbl.filter(pc.equal(tbl["k"], "a")).to_batches()[0],
               tbl.slice(100).to_batches()[0]]

    def write(fs, root: str, task) -> list:
        rows = write_partition(iter(batches), fmt(), task.stage, fs, root,
                               task.family, chunk_rows=40,
                               hive_cols=hive_cols)
        assert len(rows) >= 3, rows
        return [{k: v for k, v in r.items() if k != "kernel_secs"}
                for r in rows]

    return _committed(write, "part-00002")


def _committed(write, family: str):
    """The engine task body around ``write(fs, root, task) -> manifest
    rows``: commit on success, abort on any error."""

    def run(fs, root: str, attempt: int):
        task = TaskCommit(fs, root, family, attempt)
        try:
            task.commit(write(fs, root, task))
        except BaseException:
            task.abort()
            raise

    def setup(root: str):
        begin_job(root, "files", {}, resume=False)  # the driver's part

    def check_failed(root: str, tree: dict, clean: dict) -> set[str]:
        assert not os.path.exists(
            os.path.join(root, "_manifests", f"{family}.json"))
        left = _visible(tree)
        assert all(tree[p] == clean[p] for p in left), (tree, clean)
        return left

    return setup, run, check_failed


def _job(overwrite: bool):
    """A DataSource write: two tasks' stages, then ``publish_job`` over
    a root that already holds one old file."""
    family = "part-job1"
    files = {f"{family}-00000.parquet": b"a" * 300,
             f"{family}-00001.parquet": b"b" * 500}
    old = "part-old-00000.parquet"

    def setup(root: str):
        with open(os.path.join(root, old), "wb") as fh:
            fh.write(b"old rows")

    def run(fs, root: str, attempt: int):
        pending = [(os.path.join(root, f".{f}.stage-{attempt}"),
                    os.path.join(root, f)) for f in files]
        try:
            for (staged, _final), data in zip(pending, files.values()):
                with fs.open_write(staged) as sink:
                    sink.write(data)
            publish_job(fs, root, pending, family, ".parquet", overwrite)
        except BaseException:
            abort_job(fs, root, family)
            raise

    def check_failed(root: str, tree: dict, clean: dict) -> set[str]:
        assert _visible(tree) == {old}, tree
        return set()

    return setup, run, check_failed


_SINGLE = _task({"part-00000.parquet": b"x" * 1000}, "part-00000")
_MULTI = _task({"k=a/part-00001.parquet": b"p" * 700,
                "k=b/part-00001.parquet": b"q" * 900,
                "k=b/part-00001-r1.parquet": b"r" * 100}, "part-00001")
CASES = {
    "single_file_task": _SINGLE,
    "multi_file_task": _MULTI,
    "publish_job": _job(overwrite=False),
    "publish_job_overwrite": _job(overwrite=True),
    "write_partition_parquet_hive": _partition(ParquetFormat, ("k",)),
    "write_partition_fpsc": _partition(FpscFormat),
}


@pytest.mark.parametrize("case", sorted(CASES))
@pytest.mark.parametrize("op", ["open_write", "replace"])
def test_failure_matrix(tmp_path, case, op):
    setup, run, check_failed = CASES[case]

    def fresh(name: str) -> str:
        root = str(tmp_path / name)
        os.makedirs(root)
        setup(root)
        return root

    clean_root = fresh("clean")
    counter = FaultyFS(op)
    run(counter, clean_root, attempt=1)
    clean = _tree(clean_root)
    assert counter.calls >= 2, counter.calls
    assert not any(".stage-" in p or ".tmp-" in p for p in clean), clean

    for nth in range(1, counter.calls + 1):
        root = fresh(f"fail-{nth}")
        with pytest.raises(OSError, match="injected"):
            run(FaultyFS(op, nth), root, attempt=2)
        tree = _tree(root)
        assert not any(".stage-" in p or ".tmp-" in p for p in tree), (nth, tree)
        left = {p: os.stat(os.path.join(root, p)).st_ino
                for p in check_failed(root, tree, clean)}
        run(LocalFS(), root, attempt=3)  # the retry
        assert _tree(root) == clean, nth
        for p, ino in left.items():  # renamed over, not kept
            assert os.stat(os.path.join(root, p)).st_ino != ino, (nth, p)


def test_failed_rename_over_stale_final_of_other_size_raises(tmp_path):
    """A rename that fails while a final of a DIFFERENT size exists (a
    stale file from an earlier run, not a twin's identical output) is a
    real failure: it raises and commits nothing."""
    root = str(tmp_path)
    final = os.path.join(root, "k=a", "part-00000.parquet")
    os.makedirs(os.path.dirname(final))
    with open(final, "wb") as fh:
        fh.write(b"stale")
    setup, run, _check = _task({"k=a/part-00000.parquet": b"fresh output"},
                               "part-00000")
    setup(root)
    with pytest.raises(OSError, match="injected"):
        run(FaultyFS("replace", 1), root, attempt=5)
    assert not os.path.exists(os.path.join(root, "_manifests", "part-00000.json"))
    assert sorted(os.listdir(os.path.dirname(final))) == ["part-00000.parquet"]
    # a same-size final is a twin's identical output: the rename failure
    # is tolerated and the task commits
    with open(final, "wb") as fh:
        fh.write(b"fresh output")
    run(FaultyFS("replace", 1), root, attempt=6)
    assert os.path.exists(os.path.join(root, "_manifests", "part-00000.json"))


def test_fps_overwrite_keeps_old_rows_when_first_replace_fails(tmp_path,
                                                               monkeypatch):
    """An fps overwrite whose first publish rename fails must leave the
    old dataset readable: old files go only after the new ones are in.
    Overwrite removes the data files every reader lists, so a parquet
    file under a ``_`` directory is not one and stays."""
    import fastparquet_spark.io as fio
    from fastparquet_spark.format.writer import write_file
    from fastparquet_spark.sources.fps_source import StagedWriter, _Committed

    root = tmp_path / "ds"
    (root / "_backup").mkdir(parents=True)
    old = pa.table({"k": pa.array(range(50))})
    write_file(str(root / "part-old-00000.parquet"), old)
    write_file(str(root / "_backup" / "x.parquet"), old)
    writer = StagedWriter(str(root), ParquetFormat(compression="ZSTD"), 1000,
                          overwrite=True)
    final = f"part-{writer.job}-00000.parquet"
    staged = f".{final}.stage-7"
    write_file(str(root / staged), pa.table({"k": pa.array(range(5))}))
    get_fs = fio.get_fs
    monkeypatch.setattr(fio, "get_fs",
                        lambda path, fs=None: FaultyFS("replace", 1))
    with pytest.raises(OSError, match="injected"):
        writer.commit([_Committed(((staged, final),))])
    assert pq.read_table(str(root / "part-old-00000.parquet")).equals(old)
    assert not (root / final).exists()
    monkeypatch.setattr(fio, "get_fs", get_fs)
    writer.commit([_Committed(((staged, final),))])  # the retry
    assert sorted(p for p in os.listdir(root) if not p.startswith(".")) == \
        ["_backup", "_common_metadata", "_metadata", final]
    assert pq.read_table(str(root / "_backup" / "x.parquet")).equals(old)


def test_failed_twin_keeps_the_final_a_published_twin_counts_on(tmp_path):
    """Twin A publishes the final and sweeps B's stage, then fails
    before its manifest; B sees the final (its rename fails on the
    swept stage) and commits.  A's abort, landing between B's publish
    and B's manifest, must not remove the final B's manifest names."""
    root = str(tmp_path)
    final = os.path.join(root, "part-00000.parquet")
    begin_job(root, "files", {}, resume=False)
    a = TaskCommit(FaultyFS("replace", 2), root, "part-00000", 1)
    b_fs = FaultyFS("open_write")
    b = TaskCommit(b_fs, root, "part-00000", 2)
    for task in (b, a):
        with task.fs.open_write(task.stage(final)) as sink:
            sink.write(b"same bytes")
    with pytest.raises(OSError, match="injected"):
        a.commit(["a"])  # publishes, sweeps B's stage, manifest rename fails
    assert not os.path.exists(stage_name(final, 2))
    open_write = b_fs.inner.open_write

    def a_aborts_first(path):  # B's only open_write is its manifest's
        a.abort()
        return open_write(path)
    b_fs.inner.open_write = a_aborts_first
    b.commit(["b"])
    assert os.path.exists(os.path.join(root, "_manifests", "part-00000.json"))
    with open(final, "rb") as fh:
        assert fh.read() == b"same bytes"
