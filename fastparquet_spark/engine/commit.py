"""The staged-commit protocol: the one module that knows how a writer's
output becomes visible.  Every writer follows it — the split and
shuffle encode jobs (``TaskCommit`` on the executors, ``begin_job`` on
the driver), both DataSource writers (``publish_job`` / ``abort_job``
on the driver) and the facade's one-process ``api.write``
(``stage_name`` per file, then ``publish_all``).  The engine's files
come from one writer, engine/write.py: ``write_partition`` (or, for
the split jobs' one file per task, a format object directly) writes
each file to the path ``TaskCommit.stage`` or ``stage_name`` gives it:

1. **stage** — a task attempt writes each output under
   ``.{final}.stage-{attempt}``: dot-hidden, so Spark/Hive listers
   (which skip '.'/'_' basenames) and our own never see in-flight
   bytes, and attempt-suffixed, so twin attempts (retries,
   speculation) never collide on a stage file;
2. **publish** — each stage is renamed onto its final name.  A failed
   rename is tolerated only when a twin already published a complete
   final: our stage was swept (sweeps run only after the sweeper's own
   publish), or the final has exactly our stage's size (writers are
   deterministic, so twins' files are identical; a stale file from an
   earlier run is not — blessing any existing final masked real rename
   failures);
3. **sweep** — strictly after our own publish, the leftovers of dead
   attempts (their stages, and finals this task no longer produces) are
   removed.  Sweeping first let two simultaneous twins delete each
   other's stages and leave zero finals;
4. **manifest** — the task's manifest is written last, through
   ``tmp-{attempt}`` + rename: its existence IS the commit, and resume
   skips a task whose manifest exists.  A final may be visible before
   its manifest lands; it is identical to what any attempt of the task
   writes, and a retry overwrites it.  A failed attempt does not take
   its finals back: a twin may have swept our stage or matched our
   final's size, counting that final as its own durable output.

A driver-side publish (``publish_all``) has no twins, so a failed
rename takes back the finals it renamed — for the facade's fresh hive
write, which reuses ``part.N`` names, the files those replaced too.

The driver, before any task runs, drops the ``_metadata`` /
``_common_metadata`` sidecars (they cannot see the files a job adds,
so sidecar-preferring readers would silently miss them) and records
the plan identity — the split fingerprint or ``num_partitions`` —
because resume keys on task ids: a resume against a different plan
would skip ids that now hold different rows.

The manifests are the Iceberg-shaped lineage (see encode_job): a
catalog replaces the manifest write here and nothing else.
"""

from __future__ import annotations

import json

MANIFEST_DIR = "_manifests"


def _u_join(base: str, rel: str) -> str:
    """Path join that preserves URI schemes (s3://... stays s3://...)."""
    return base.rstrip("/") + "/" + rel


def stage_name(final: str, attempt) -> str:
    """The stage path of ``final`` (a path or a bare file name) for one
    task attempt."""
    head, sep, base = final.rpartition("/")
    return f"{head}{sep}.{base}.stage-{attempt}"


def discard(fs, paths) -> None:
    """Remove ``paths`` where they exist; a cleanup step never masks
    the error that triggered it."""
    for p in paths:
        try:
            fs.remove(p)
        except OSError:
            pass


def _family(fs, d: str, family: str) -> list[str]:
    """Entries of directory ``d`` named for ``family`` (a task's or a
    job's file-name prefix): its finals, its dot-hidden stages and
    pre-dot ``{final}.stage-N`` leftovers."""
    try:
        entries = fs.listdir(d)
    except OSError:
        return []
    out = []
    for p in entries:
        base = p.rsplit("/", 1)[1]
        core = base[1:] if base.startswith(".") else base
        if core.startswith((family + ".", family + "-")):
            out.append(p)
    return out


def publish(fs, pending, published: list | None = None) -> None:
    """Rename every staged file of ``pending`` ``(staged, final)`` onto
    its final name, under the twin rule of the module docstring.  Each
    final this call renamed is appended to ``published`` (if given), so
    the driver, the only committer of a DataSource job, can take back
    exactly those when the publish fails."""
    for staged, final in pending:
        try:
            fs.replace(staged, final)
        except OSError:
            try:
                ok = fs.exists(final) and (
                    not fs.exists(staged)  # swept by a published twin
                    or fs.size(final) == fs.size(staged))
            except OSError:
                ok = False
            if not ok:
                raise  # no twin final: a real failure
            discard(fs, [staged])  # our stage was not consumed
        else:
            if published is not None:
                published.append(final)


def publish_all(fs, pending) -> None:
    """Publish every pair of ``pending`` or, taking back the finals
    already renamed, none.  The stages stay for the caller to remove."""
    published: list[str] = []
    try:
        publish(fs, pending, published)
    except BaseException:
        discard(fs, published)
        raise


def sweep(fs, finals, family: str) -> None:
    """Remove ``family``'s entries other than ``finals`` from every
    directory the finals live in."""
    finals = set(finals)
    for d in sorted({f.rsplit("/", 1)[0] for f in finals}):
        discard(fs, [p for p in _family(fs, d, family) if p not in finals])


class TaskCommit:
    """One task attempt's side of the protocol.  ``family`` names the
    task's files (``part-00007`` owns ``part-00007.parquet``,
    ``part-00007-r1.parquet``, ``part-00007-000.fpsc``...) and its
    manifest ``_manifests/{family}.json``."""

    def __init__(self, fs, out_dir: str, family: str, attempt):
        self.fs = fs
        self.family = family
        self.attempt = attempt
        self.manifest = _u_join(out_dir, f"{MANIFEST_DIR}/{family}.json")
        self.manifest_tmp = f"{self.manifest}.tmp-{attempt}"
        self.pending: list[tuple[str, str]] = []

    def committed_rows(self) -> list[dict] | None:
        """The manifest rows, marked skipped, when an earlier attempt or
        run already committed this task; else None."""
        if not self.fs.exists(self.manifest):
            return None
        with self.fs.open_read(self.manifest) as fh:
            prev = json.loads(fh.read())
        rows = prev if isinstance(prev, list) else [prev]
        for row in rows:
            row["skipped"] = True
        return rows

    def stage(self, final: str) -> str:
        """Register ``final`` for publication; returns the path to write."""
        staged = stage_name(final, self.attempt)
        self.pending.append((staged, final))
        return staged

    def commit(self, rows: list) -> None:
        """Publish every staged file, sweep, then write the manifest:
        ``rows[0]`` alone for a one-file task (the round-1 dict shape),
        else the list."""
        publish(self.fs, self.pending)
        sweep(self.fs, [f for _s, f in self.pending], self.family)
        with self.fs.open_write(self.manifest_tmp) as fh:
            fh.write(json.dumps(rows[0] if len(rows) == 1 else rows).encode())
        self.fs.replace(self.manifest_tmp, self.manifest)

    def abort(self) -> None:
        """Remove this attempt's stages (open sinks must be closed) and
        manifest temp.  Published finals stay (module docstring, 4)."""
        discard(self.fs, [s for s, _f in self.pending] + [self.manifest_tmp])


def drop_sidecars(fs, out_dir: str) -> None:
    """Remove ``out_dir``'s ``_metadata`` / ``_common_metadata``."""
    for name in ("_metadata", "_common_metadata"):
        sidecar = _u_join(out_dir, name)
        if fs.exists(sidecar):
            fs.remove(sidecar)


def begin_job(out_dir: str, name: str, plan: dict, resume: bool) -> None:
    """Driver side of an encode job: create ``out_dir`` and its manifest
    directory, drop the sidecars, and record ``plan`` in
    ``_manifests/_plan_{name}.json``.  A resume whose plan differs from
    the recorded one raises ``ValueError``."""
    from fastparquet_spark.io import get_fs

    fs = get_fs(out_dir)
    fs.makedirs(out_dir)
    fs.makedirs(_u_join(out_dir, MANIFEST_DIR))
    drop_sidecars(fs, out_dir)
    marker = _u_join(out_dir, f"{MANIFEST_DIR}/_plan_{name}.json")
    if resume and fs.exists(marker):
        with fs.open_read(marker) as fh:
            prev = json.loads(fh.read())
        if any(prev.get(k) != v for k, v in plan.items()):
            raise ValueError(
                f"resume against a different plan than the interrupted "
                f"run ({plan} now, {prev} then): task ids map to the same "
                f"rows only under the same split plan (input files, "
                f"rows_per_task) or num_partitions — pass the recorded "
                f"values, or resume=False to start over")
    else:
        tmp = f"{marker}.tmp"
        with fs.open_write(tmp) as fh:
            fh.write(json.dumps(plan).encode())
        fs.replace(tmp, marker)


def publish_job(fs, root: str, pending, family: str, suffix: str,
                overwrite: bool) -> None:
    """Driver-side commit of a DataSource write.  ``pending`` holds the
    ``(staged, final)`` pairs of the one successful attempt per task.
    Publish first — a failed rename takes back the finals already
    renamed, leaving the old files alone — then (overwrite) remove the
    data files that were there before (``dataset.data_files`` of
    ``suffix``, the listing every reader uses), then sweep the job
    ``family``'s leftovers.  A failure at any step leaves the old rows,
    the new rows, or both — never neither."""
    from fastparquet_spark.format.dataset import data_files

    old = data_files(root, fs, suffix) if overwrite else []
    drop_sidecars(fs, root)
    publish_all(fs, pending)
    for p in old:
        fs.remove(p)
    finals = {f for _s, f in pending}
    discard(fs, [p for p in _family(fs, root, family) if p not in finals])


def abort_job(fs, root: str, family: str) -> None:
    """Remove a failed DataSource write's stages — every attempt's,
    reported or killed.  Finals stay: a commit that failed after
    publishing may already have removed the old files."""
    discard(fs, [p for p in _family(fs, root, family)
                 if p.rsplit("/", 1)[1].startswith(".")])
