"""The one filesystem, ``io.get_fs``: a small tree addressed three ways
— as cwd-relative paths, as absolute paths and as ``file://`` URIs —
answers every operation of the FS protocol alike, up to the prefix.
On plain paths the answers equal the os/open/glob calls a local-only
FS makes (``_OsFS`` below): ``glob.glob``'s relative paths and hidden
rule, a non-recursive ``rmdir``, an atomic replace, and
``FileNotFoundError`` for a missing path.  Spark-free, a few seconds.
"""

from __future__ import annotations

import glob
import os

import pytest

from fastparquet_spark.io import ArrowFS, get_fs

FILES = {
    "a.parquet": b"a", "b.parquet": b"bb", "part-1.parquet": b"p1",
    "part-22.parquet": b"p22", "_metadata": b"m", ".hidden.parquet": b"h",
    "d/c.parquet": b"c", "d/e/f.parquet": b"f", "d/.stage/c.parquet": b"s",
    "d/_x/g.parquet": b"g", "k=1/c.parquet": b"k1", "k=2/c.parquet": b"k2",
}
HOWS = ("relative", "absolute", "uri")


class _OsFS:
    """The answers of a local-only FS: os, open and glob."""

    def open_read(self, path):
        return open(path, "rb")

    def open_write(self, path):
        return open(path, "wb")

    def size(self, path):
        return os.stat(path).st_size

    def listdir(self, path):
        return sorted(os.path.join(path, f) for f in os.listdir(path))

    def glob(self, pattern):
        return sorted(glob.glob(pattern))

    def exists(self, path):
        return os.path.exists(path)

    def makedirs(self, path):
        os.makedirs(path, exist_ok=True)

    def replace(self, src, dst):
        os.replace(src, dst)

    def remove(self, path):
        os.remove(path)

    def rmdir(self, path):
        os.rmdir(path)

    def isdir(self, path):
        return os.path.isdir(path)

    def walk_files(self, path):
        return sorted(os.path.join(r, f)
                      for r, _d, fs in os.walk(path) for f in fs)


def _tree(root) -> str:
    for rel, data in FILES.items():
        os.makedirs(os.path.dirname(f"{root}/{rel}"), exist_ok=True)
        with open(f"{root}/{rel}", "wb") as f:
            f.write(data)
    os.makedirs(f"{root}/empty")
    return str(root)


def _prefix(how: str, root: str) -> str:
    return {"relative": "", "absolute": f"{root}/",
            "uri": f"file://{root}/"}[how]


def _strip(answer, pre: str):
    if isinstance(answer, list):
        return [_strip(a, pre) for a in answer]
    if isinstance(answer, str):
        assert answer.startswith(pre), (answer, pre)
        return answer[len(pre):]
    return answer


def _ask(fs, op: str, path: str, pre: str):
    """``op``'s answer for ``path`` with ``pre`` stripped, or the
    class of the exception it raised."""
    try:
        if op == "read":
            with fs.open_read(path) as f:
                return f.read()
        return _strip(getattr(fs, op)(path), pre)
    except OSError as e:
        return type(e)


READS = [
    ("size", "a.parquet"), ("size", "d/e/f.parquet"), ("size", "missing"),
    ("read", "part-22.parquet"), ("read", "missing"),
    ("listdir", "d"), ("listdir", "d/"), ("listdir", "empty"),
    ("listdir", "missing"), ("listdir", "a.parquet"),
    ("walk_files", "d"), ("walk_files", "empty"), ("walk_files", "missing"),
    ("exists", "a.parquet"), ("exists", "d"), ("exists", "missing"),
    ("exists", "d/missing"),
    ("isdir", "d"), ("isdir", "a.parquet"), ("isdir", "missing"),
    # wildcards in the first segment, a middle one and the last
    ("glob", "*"), ("glob", "*.parquet"), ("glob", "*/c.parquet"),
    ("glob", "*/*/f.parquet"), ("glob", "d/*/*.parquet"),
    ("glob", "k=*/c.parquet"), ("glob", "d/*"), ("glob", "*/e"),
    # classes and ?
    ("glob", "[ab].parquet"), ("glob", "[!a]*.parquet"),
    ("glob", "part-?.parquet"), ("glob", "part-??.parquet"),
    ("glob", "k=[12]/*.parquet"),
    # . and _ names: a wildcard skips a dot name unless its segment
    # starts with '.'; '_' names match
    ("glob", ".*"), ("glob", "d/.*/*.parquet"), ("glob", "_*"),
    ("glob", "d/_*/g.parquet"),
    # literal patterns and misses
    ("glob", "a.parquet"), ("glob", "d/missing"), ("glob", "missing/*"),
    ("glob", "*/missing.parquet"), ("glob", "a.parquet/*"),
]


@pytest.mark.parametrize("op,rel", READS, ids=[f"{o}:{r}" for o, r in READS])
def test_reads_agree_three_ways_and_with_os(tmp_path, monkeypatch, op, rel):
    root = _tree(tmp_path)
    monkeypatch.chdir(root)
    got = {}
    for how in HOWS:
        pre = _prefix(how, root)
        fs = get_fs(pre + rel)
        assert type(fs) is ArrowFS
        got[how] = _ask(fs, op, pre + rel, pre)
        if how != "uri":
            assert got[how] == _ask(_OsFS(), op, pre + rel, pre), how
    assert got["relative"] == got["absolute"] == got["uri"]


def _snapshot(root: str) -> dict:
    out = {}
    for r, dirs, files in os.walk(root):
        for d in dirs:
            out[os.path.relpath(f"{r}/{d}", root) + "/"] = None
        for f in files:
            with open(f"{r}/{f}", "rb") as fh:
                out[os.path.relpath(f"{r}/{f}", root)] = fh.read()
    return out


def _mutate(fs, pre: str) -> dict:
    """Every writing operation, the failing ones included: what each
    returned or raised, by step."""
    log = {}

    def step(op, *rels):
        try:
            out = getattr(fs, op)(*(pre + r for r in rels))
        except OSError as e:
            out = type(e)
        log[" ".join((op, *rels))] = out

    with fs.open_write(pre + "new.bin") as f:
        f.write(b"xyz")
    step("makedirs", "n1/n2")
    step("makedirs", "d")
    step("makedirs", "a.parquet")
    step("replace", "new.bin", "a.parquet")  # over an existing file
    step("replace", "missing", "x")
    step("remove", "b.parquet")
    step("remove", "missing")
    step("remove", "d")
    step("rmdir", "d")  # not empty
    step("rmdir", "d/e")
    step("rmdir", "empty")
    step("rmdir", "missing")
    step("rmdir", "a.parquet")
    return log


def test_writes_agree_three_ways_and_with_os(tmp_path, monkeypatch):
    runs = {}
    for how in (*HOWS, "os"):
        root = _tree(tmp_path / how)
        monkeypatch.chdir(root)
        pre = _prefix("absolute" if how == "os" else how, root)
        fs = _OsFS() if how == "os" else get_fs(pre + "new.bin")
        runs[how] = (_mutate(fs, pre), _snapshot(root))
    assert runs["relative"] == runs["absolute"] == runs["uri"] == runs["os"]
    log, state = runs["os"]
    # a non-empty directory is never removed, whatever lies below it
    assert log["rmdir d"] is OSError and log["rmdir d/e"] is OSError
    assert state["d/e/f.parquet"] == b"f" and "d/.stage/" in state
    assert log["remove missing"] is FileNotFoundError
    assert state["a.parquet"] == b"xyz" and "new.bin" not in state
    assert "empty/" not in state and "n1/n2/" in state


def test_uri_glob_with_class_resolves_its_filesystem(tmp_path):
    """``FileSystem.from_uri`` cannot parse a ``[...]`` class, so a URI
    glob resolves its filesystem from the wildcard-free prefix."""
    root = _tree(tmp_path)
    fs = get_fs(f"file://{root}/[ab].parquet")
    assert fs.glob(f"file://{root}/[ab].parquet") == [
        f"file://{root}/a.parquet", f"file://{root}/b.parquet"]
    assert fs.glob(f"file://{root}/k=[2]/c.parquet") == [
        f"file://{root}/k=2/c.parquet"]


def test_file_uri_sinks_round_trip(tmp_path):
    """``write_file`` and ``write_container`` open a string sink through
    the seam, so a ``file://`` URI writes what ``read_file`` and
    ``read_container`` of the same URI read back."""
    import pyarrow as pa

    from fastparquet_spark.format import read_file, write_file
    from fastparquet_spark.format.container import (
        read_container, write_container,
    )

    tbl = pa.table({"id": pa.array(range(50), pa.int64()),
                    "s": pa.array([f"v{i % 3}" for i in range(50)])})
    write_file(f"file://{tmp_path}/t.parquet", tbl, row_group_rows=20)
    assert read_file(f"file://{tmp_path}/t.parquet").equals(tbl)
    write_container(f"file://{tmp_path}/t.fpsc", tbl)
    assert read_container(f"file://{tmp_path}/t.fpsc").equals(tbl)
