"""Filesystem seam: one place where paths become bytes.

The reference routes every open/list through fsspec so the same code
reads local disk, S3, GCS or HDFS (fastparquet/api.py:95-162 open_with,
fastparquet/util.py:146-167).  fsspec is not available in this sandbox,
so the seam is built on ``pyarrow.fs`` — the public, baked-in
equivalent — and has ONE implementation, :class:`ArrowFS`: plain paths
get ``pyarrow.fs.LocalFileSystem`` (cwd-relative paths stay relative),
and ``FileSystem.from_uri`` resolves ``s3://``/``gs://``/``hdfs://``/
``file://`` URIs to the matching C++ filesystem.  Local runs therefore
exercise the code object-store runs take; on the local disk ``replace``
is an atomic rename and ``rmdir`` the kernel's (never recursive).

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

import fnmatch
import os
import posixpath

from pyarrow.fs import FileSelector, FileSystem, FileType, LocalFileSystem


def _is_uri(path: str) -> bool:
    return "://" in path


def is_glob(path: str) -> bool:
    """Whether ``path`` holds a ``glob.glob`` wildcard."""
    return any(c in path for c in "*?[")


def common_root(paths: list[str]) -> str:
    """Deepest common DIRECTORY of the given file paths, URI-safe:
    ``os.path.commonpath`` normalizes ``s3://b/x`` to ``s3:/b/x``
    (collapsing the scheme's double slash), after which ``get_fs``
    routes every downstream read to the local disk — so the scheme is
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


class ArrowFS:
    """The one FS: a ``pyarrow.fs`` filesystem behind the small protocol
    every engine module talks to.  ``get_fs`` gives plain paths the
    local filesystem with an empty prefix and URIs (s3://, gs://,
    hdfs://, file://) the filesystem ``FileSystem.from_uri`` resolves,
    so local runs take the code object-store runs take.

    Paths passed in and out keep the caller's spelling: a URI keeps its
    ``scheme`` prefix, and a cwd-relative path stays relative, so
    downstream code (Spark reads, manifests) sees the address space the
    caller used.  A missing path raises ``FileNotFoundError``; any
    other failure an ``OSError``.
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
        # no compression sniffing: a name ending in .gz is still bytes
        return self._fs.open_output_stream(self._strip(path),
                                           compression=None)

    def size(self, path: str) -> int:
        info = self._fs.get_file_info(self._strip(path))
        if info.type == FileType.NotFound:
            raise FileNotFoundError(path)
        if info.type != FileType.File:
            raise IsADirectoryError(path)
        return info.size

    def listdir(self, path: str) -> list[str]:
        infos = self._fs.get_file_info(FileSelector(self._strip(path)))
        return sorted(posixpath.join(path, i.base_name) for i in infos)

    def glob(self, pattern: str) -> list[str]:
        """``glob.glob`` semantics on any store, which has no
        server-side glob: the pattern is matched segment by segment
        (a wildcard never crosses '/', and never matches a dot-hidden
        name unless its segment starts with '.', so in-flight .stage
        files are never input), listing only the directories the
        pattern reaches.  Wildcards may sit in ANY segment
        (s3://b/ds/lang=*/part-*.pq); a cwd-relative pattern returns
        cwd-relative paths."""
        if not is_glob(pattern):
            return [pattern] if self.exists(pattern) else []
        segs = self._strip(pattern).split("/")
        first = next(i for i, s in enumerate(segs) if is_glob(s))
        # "" is the cwd; a leading "" segment is the root "/"
        cands = ["/".join(segs[:first]) or ("/" if first else "")]
        for i in range(first, len(segs)):
            seg, last = segs[i], i == len(segs) - 1
            if not is_glob(seg):
                cands = [posixpath.join(c, seg) for c in cands]
                if last:  # listed names exist; a literal one may not
                    cands = [c for c in cands if self._fs.get_file_info(
                        c).type != FileType.NotFound]
                continue
            nxt = []
            for c in cands:
                try:
                    infos = self._fs.get_file_info(FileSelector(c or "."))
                except OSError:  # missing, or not a directory
                    continue
                nxt.extend(
                    posixpath.join(c, f.base_name) for f in infos
                    if (last or f.type == FileType.Directory)
                    and (seg.startswith(".")
                         or not f.base_name.startswith("."))
                    and fnmatch.fnmatchcase(f.base_name, seg))
            cands = nxt
        return sorted(self._unstrip(c) for c in cands)

    def exists(self, path: str) -> bool:
        return self._fs.get_file_info(self._strip(path)).type != FileType.NotFound

    def makedirs(self, path: str) -> None:
        self._fs.create_dir(self._strip(path), recursive=True)

    def replace(self, src: str, dst: str) -> None:
        # an atomic rename where the store has one (local: rename(2),
        # HDFS); copy+delete on S3-likes — see module docstring
        self._fs.move(self._strip(src), self._strip(dst))

    def remove(self, path: str) -> None:
        self._fs.delete_file(self._strip(path))

    def rmdir(self, path: str) -> None:
        """Remove the directory ``path``; ``OSError`` unless empty.
        ``delete_dir`` is recursive, so the local disk keeps the
        kernel's atomic rmdir, and a store lists first."""
        if self._fs.type_name == "local":
            os.rmdir(self._strip(path))
            return
        if self.listdir(path):
            raise OSError(f"directory not empty: {path}")
        self._fs.delete_dir(self._strip(path))

    def isdir(self, path: str) -> bool:
        return self._fs.get_file_info(self._strip(path)).type == FileType.Directory

    def walk_files(self, path: str) -> list[str]:
        """Every file below the directory ``path``, sorted; none for a
        missing one."""
        infos = self._fs.get_file_info(FileSelector(
            self._strip(path), recursive=True, allow_not_found=True))
        return sorted(self._unstrip(i.path) for i in infos
                      if i.type == FileType.File)


def LocalFS() -> ArrowFS:
    """The one FS over the local disk, as :func:`get_fs` resolves a
    plain path (the benchmark harness imports it by this name)."""
    return ArrowFS(LocalFileSystem(), "")


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

    def read(self, n=None):  # a NativeFile reads all on None, not -1
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


def get_fs(path: str, fs=None) -> ArrowFS:
    """Resolve a path, URI or glob of either to the one FS.  An
    explicit ``fs`` wins."""
    if fs is not None:
        return fs
    if not _is_uri(path):
        return LocalFS()
    scheme, rest = path.split("://", 1)
    if is_glob(rest):
        # from_uri cannot parse a [...] class: resolve the pattern's
        # wildcard-free directory prefix instead
        segs = rest.split("/")
        rest = "/".join(segs[:next(
            i for i, s in enumerate(segs) if is_glob(s))]) or "/"
        path = f"{scheme}://{rest}"
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
        prefix = scheme + "://" + rest.split("/", 1)[0]
    else:
        prefix = scheme + "://"
    return ArrowFS(arrow_fs, prefix)


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
