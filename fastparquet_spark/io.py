"""Filesystem seam: one place where paths become bytes.

The reference routes every open/list through fsspec so the same code
reads local disk, S3, GCS or HDFS (fastparquet/api.py:95-162 open_with,
fastparquet/util.py:146-167).  fsspec is not available in this sandbox,
so the seam is built on ``pyarrow.fs`` — the public, baked-in
equivalent: ``FileSystem.from_uri`` resolves ``s3://``/``gs://``/
``hdfs://``/``file://`` URIs to the matching C++ filesystem, and plain
paths fall back to a thin local implementation (os + open) with true
atomic rename.

Every engine module resolves paths through :func:`get_fs` and talks to
the small ``FS`` protocol below, so pointing a job at object storage is
a URI change, not a code change.  ``CountingFS`` wraps any FS and
tallies bytes read — tests use it to PROVE metadata operators touch
only file tails.

Object-store caveat, encoded here once: S3-style stores have no atomic
rename, so ``replace`` degrades to copy+delete there.  The manifest
commit protocol stays correct because manifests are tiny and written
once (worst case on failure: a re-run re-encodes one split — the same
idempotence the reference's overwrite path relies on).
"""

from __future__ import annotations

import glob as _glob
import os


def _is_uri(path: str) -> bool:
    return "://" in path


def common_root(paths: list[str]) -> str:
    """Deepest common DIRECTORY of the given file paths, URI-safe:
    ``os.path.commonpath`` normalizes ``s3://b/x`` to ``s3:/b/x``
    (collapsing the scheme's double slash), after which ``get_fs``
    routes every downstream read to LocalFS — so the scheme prefix is
    split off before commonpath and re-attached.

    cwd-relative inputs resolve to ``"."`` (a bare ``a.parquet`` has
    the working directory as its root, NOT itself)."""
    uri = [_is_uri(p) for p in paths]
    if any(uri) and not all(uri):
        raise ValueError(
            f"mixed URI and local paths: {sorted(paths)[:2]}...")
    # dirname semantics: a slash-less path lives in the cwd
    dirs = [p.rsplit("/", 1)[0] if "/" in p else "" for p in paths]
    scheme = ""
    if any(uri):
        scheme = dirs[0][:dirs[0].index("://") + 3]
        if not all(d.startswith(scheme) for d in dirs):
            raise ValueError(f"mixed URI schemes in {dirs[:2]}...")
        dirs = [d[len(scheme):] for d in dirs]
    if any(d == "" for d in dirs):
        return "."  # at least one file sits directly in the cwd
    base = os.path.commonpath(dirs) if len(dirs) > 1 else dirs[0]
    if scheme and not base:
        # files in different buckets (s3://a/x vs s3://b/y): a bare
        # "s3://" root would make relative paths start with "/", which
        # _partition_values and sidecar keys would read as an extra
        # empty path segment — require a common bucket instead
        raise ValueError(
            f"URI inputs share no common bucket/authority: {dirs[:2]}...")
    return (scheme + base) or "."


def relative_to(path: str, base: str) -> str:
    """Path of ``path`` relative to directory ``base`` by prefix strip
    (``os.path.relpath`` normalizes URI schemes into garbage).  A
    cwd root ("." or "") leaves relative paths untouched — collapsing
    them to basenames read the WRONG files for multi-directory lists."""
    if base in ("", "."):
        return path if not path.startswith("./") else path[2:]
    b = base.rstrip("/") + "/"
    return path[len(b):] if path.startswith(b) else os.path.basename(path)


class LocalFS:
    """Plain-local FS: zero overhead over os/open, atomic os.replace."""

    def open_read(self, path: str):
        return open(path, "rb")

    def open_write(self, path: str):
        return open(path, "wb")

    def size(self, path: str) -> int:
        return os.stat(path).st_size

    def listdir(self, path: str) -> list[str]:
        return sorted(os.path.join(path, f) for f in os.listdir(path))

    def glob(self, pattern: str) -> list[str]:
        return sorted(_glob.glob(pattern))

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def replace(self, src: str, dst: str) -> None:
        os.replace(src, dst)

    def remove(self, path: str) -> None:
        os.remove(path)

    def rmdir(self, path: str) -> None:
        """Remove the directory ``path``; ``OSError`` unless empty."""
        os.rmdir(path)

    def isdir(self, path: str) -> bool:
        return os.path.isdir(path)

    def walk_files(self, path: str) -> list[str]:
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(os.path.join(root, f) for f in files)
        return sorted(out)


class ArrowFS:
    """pyarrow.fs-backed FS for URIs (s3://, gs://, hdfs://, file://).

    Paths passed in/out keep their scheme so downstream code (Spark
    reads, manifests) sees the same address space the caller used.
    """

    def __init__(self, fs, scheme: str):
        self._fs = fs
        self._scheme = scheme  # e.g. "file://" — prepended on returns

    def _strip(self, path: str) -> str:
        return path[len(self._scheme):] if path.startswith(self._scheme) else path

    def _unstrip(self, path: str) -> str:
        return self._scheme + path

    def open_read(self, path: str):
        return self._fs.open_input_file(self._strip(path))

    def open_write(self, path: str):
        return self._fs.open_output_stream(self._strip(path))

    def size(self, path: str) -> int:
        info = self._fs.get_file_info(self._strip(path))
        if info.size is None:
            # NotFound infos carry size=None — surfacing it produced a
            # TypeError downstream instead of the real error
            raise FileNotFoundError(path)
        return info.size

    def listdir(self, path: str) -> list[str]:
        from pyarrow.fs import FileSelector

        infos = self._fs.get_file_info(FileSelector(self._strip(path)))
        return sorted(self._unstrip(i.path) for i in infos)

    def glob(self, pattern: str) -> list[str]:
        # object stores have no server-side glob; emulate by listing from
        # the deepest wildcard-free prefix and fnmatching full paths —
        # wildcards may sit in ANY segment (s3://b/ds/lang=*/part-*.pq),
        # matching LocalFS/glob.glob semantics
        import fnmatch

        if not any(c in pattern for c in "*?["):
            # wildcard-free pattern: glob.glob semantics ([path] / [])
            return [pattern] if self.exists(pattern) else []
        segs = pattern.split("/")
        first_wild = next((i for i, s in enumerate(segs)
                           if any(c in s for c in "*?[")), len(segs))
        base = "/".join(segs[:first_wild]) or "/"
        try:
            if first_wild == len(segs) - 1:
                cands = self.listdir(base)  # final-segment-only: flat
            else:
                cands = self.walk_files(base)
        except (OSError, FileNotFoundError):
            return []  # nonexistent prefix: glob.glob returns []

        # match per path SEGMENT ('*' must not cross '/'), the LocalFS /
        # glob.glob semantics — a naive full-path fnmatch would let
        # ds/lang=*/part-*.pq swallow files in deeper subdirectories
        def _seg_match(path: str) -> bool:
            ps = path.split("/")
            if len(ps) != len(segs):
                return False
            for p, sgm in zip(ps, segs):
                # glob.glob parity: a wildcard segment never matches a
                # dot-hidden name (in-flight .stage files must not be
                # swept into object-store input sets)
                if p.startswith(".") and not sgm.startswith("."):
                    return False
                if not fnmatch.fnmatch(p, sgm):
                    return False
            return True

        return sorted(p for p in cands if _seg_match(p))

    def exists(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self._fs.get_file_info(self._strip(path)).type != FileType.NotFound

    def makedirs(self, path: str) -> None:
        self._fs.create_dir(self._strip(path), recursive=True)

    def replace(self, src: str, dst: str) -> None:
        # atomic where the store supports it (local/HDFS); copy+delete
        # semantics on S3-likes — see module docstring
        self._fs.move(self._strip(src), self._strip(dst))

    def remove(self, path: str) -> None:
        self._fs.delete_file(self._strip(path))

    def rmdir(self, path: str) -> None:
        """Remove the directory ``path``; ``OSError`` unless empty."""
        if self.listdir(path):
            raise OSError(f"directory not empty: {path}")
        self._fs.delete_dir(self._strip(path))

    def isdir(self, path: str) -> bool:
        from pyarrow.fs import FileType

        return self._fs.get_file_info(self._strip(path)).type == FileType.Directory

    def walk_files(self, path: str) -> list[str]:
        from pyarrow.fs import FileSelector, FileType

        infos = self._fs.get_file_info(
            FileSelector(self._strip(path), recursive=True))
        return sorted(self._unstrip(i.path) for i in infos
                      if i.type == FileType.File)


class CountingFS:
    """Wraps an FS; counts bytes actually read (for tail-read proofs).
    Counter updates are locked: fetch_footers/_prefetch_blooms read
    through one FS from up to 16 threads, and += on an attribute is a
    non-atomic read-modify-write."""

    def __init__(self, inner):
        import threading

        self.inner = inner
        self.bytes_read = 0
        self.opens = 0
        self._lock = threading.Lock()

    def open_read(self, path: str):
        with self._lock:
            self.opens += 1
        return _CountingFile(self.inner.open_read(path), self)

    def __getattr__(self, name):
        return getattr(self.inner, name)


class _CountingFile:
    def __init__(self, f, counter: CountingFS):
        self._f = f
        self._c = counter

    def read(self, n=-1):
        data = self._f.read(n)
        with self._c._lock:
            self._c.bytes_read += len(data)
        return data

    def __getattr__(self, name):
        return getattr(self._f, name)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()


def get_fs(path: str, fs=None):
    """Resolve a path (or URI) to an FS. An explicit ``fs`` wins."""
    if fs is not None:
        return fs
    if _is_uri(path):
        from pyarrow.fs import FileSystem

        arrow_fs, inner = FileSystem.from_uri(path)
        # prefix = everything from_uri consumed BEYOND the inner path —
        # for hdfs://nn:8020/x this includes the authority (nn:8020);
        # stripping only the scheme handed HadoopFileSystem a relative
        # 'nn:8020/x' path.  s3/gs keep their bucket in the
        # inner path, so their prefix stays just 'scheme://'.
        if inner and path.rstrip("/").endswith(inner.rstrip("/")):
            p2, i2 = path.rstrip("/"), inner.rstrip("/")
            prefix = p2[:len(p2) - len(i2)]
        elif inner.startswith("/"):
            # from_uri NORMALIZED the inner path (e.g. trailing slash),
            # so suffix-matching failed; an absolute inner means the
            # authority was consumed — scheme://authority is the prefix
            # (scheme-only would hand HadoopFS a relative 'nn:8020/x'
            # path, the r5 authority bug)
            scheme_, rest = path.split("://", 1)
            prefix = scheme_ + "://" + rest.split("/", 1)[0]
        else:
            prefix = path.split("://", 1)[0] + "://"
        return ArrowFS(arrow_fs, prefix)
    return LocalFS()


def read_tail(f, size: int, name: str, magic: bytes = b"PAR1") -> bytes:
    """The footer tail — footer, u4 length, trailing magic — of the open
    file ``f`` of ``size`` bytes, the layout parquet and FPSC files
    share (magic, data, footer, length, magic): two tail reads, as
    fastparquet/api.py:164-190 does, never page data.  The one footer
    read behind every path and file object; ``ValueError`` when the
    file is too small, lacks the magic, or declares a footer that does
    not fit between the leading magic and the tail."""
    kind = magic.decode()
    if size < 12:
        raise ValueError(f"{name}: too small to be a {kind} file")
    f.seek(size - 8)
    tail = f.read(8)
    if tail[4:] != magic:
        raise ValueError(f"{name}: missing trailing {kind} magic")
    flen = int.from_bytes(tail[:4], "little")
    if flen + 12 > size:
        raise ValueError(f"{name}: footer length {flen} exceeds file")
    f.seek(size - 8 - flen)
    return f.read(flen + 8)


def read_tail_footer(path: str, fs=None, magic: bytes = b"PAR1") -> bytes:
    """Read ONLY a parquet file's (or, with the FPSC ``magic``, a
    container's) footer tail (:func:`read_tail`)."""
    fs = get_fs(path, fs)
    size = fs.size(path)
    with fs.open_read(path) as f:
        return read_tail(f, size, path, magic)


def fetch_footers(paths: list[str], fs=None, max_workers: int = 16,
                  magic: bytes = b"PAR1") -> list[bytes]:
    """Concurrent footer fetch — the reference's metadata_from_many
    thread pool (fastparquet/util.py:146-167).  Sequential driver loops
    over 100k files burn minutes of idle cluster before a job starts."""
    from concurrent.futures import ThreadPoolExecutor

    if fs is None and paths:
        # resolve ONCE: per-path FileSystem.from_uri would rebuild an
        # object-store client (credentials, TLS) for every footer,
        # serializing exactly the setup the thread pool exists to avoid
        fs = get_fs(paths[0])
    if len(paths) <= 1:
        return [read_tail_footer(p, fs, magic) for p in paths]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as ex:
        return list(ex.map(lambda p: read_tail_footer(p, fs, magic), paths))
