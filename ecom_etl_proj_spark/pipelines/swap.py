"""Atomic table-generation swap for plain-parquet maintenance.

Plain parquet directories have no atomic replace: the naive
write-to-tmp + two-renames swap leaves a window where the table path is
absent, and deleting the old directory breaks readers mid-scan. This
module is the shared fix (used by the CDC MERGE in ``incremental.py``
and the compaction/clustering rewrites in ``maintenance.py``):

- every rewrite lands in an immutable GENERATION directory
  (``<table>.__gen_<k>__``);
- the table path is a SYMLINK swapped onto the new generation with one
  ``os.rename`` — atomic on POSIX, so a reader resolving the path sees
  entirely the old or entirely the new generation;
- the immediately previous generation survives one swap cycle so
  readers that resolved before the swap finish their scan against
  intact files; older and crash-orphaned generations are swept on the
  next successful swap.

Readers pin a snapshot by resolving the pointer first
(``resolve_snapshot``) — one syscall, after which their file list is
immutable. This is the filesystem expression of a lakehouse metadata
commit (Delta/Iceberg snapshot swap); on a format with native commits
the whole module disappears.

Crash recovery: a crash after the generation write but before the
pointer swap leaves an orphan generation and an untouched pointer —
the operation simply re-runs. A legacy table that still IS a real
directory is migrated on its first swap (rename dir → generation dir,
then link in); that one-time conversion has a brief non-atomic window,
every swap after it is atomic.
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from ecom_etl_proj_spark import catalog


def resolve_snapshot(path: str) -> str:
    """Pin the current generation: resolve the pointer to the immutable
    generation directory (a no-op for legacy real-directory tables)."""
    return os.path.realpath(path)


def _gen_no(path: str) -> int:
    m = re.search(r"\.__gen_(\d+)__$", path)
    return int(m.group(1)) if m else -1


def _list_generations(base: str) -> list[str]:
    parent = os.path.dirname(base) or "."
    pat = re.escape(os.path.basename(base)) + r"\.__gen_\d+__"
    return [
        os.path.join(parent, d)
        for d in os.listdir(parent)
        if re.fullmatch(pat, d)
    ]


def link_or_copy(src: str, dst: str) -> None:
    """Hard-link ``src`` to ``dst``, copying across devices — the one
    shared fallback every carry-forward path uses (link_tree,
    carry_previous_flat, copy_into's ledger migration), so a future
    change to the fallback semantics lands once."""
    try:
        os.link(src, dst)
    except OSError:  # pragma: no cover - cross-device fallback
        shutil.copy2(src, dst)


def link_tree(src: str, dst: str) -> None:
    """Hard-link mirror of a directory tree — the metadata-only
    carry-forward a generation rewrite uses to keep the previous
    generation's files without copying data. Merges into an existing
    ``dst`` (existing files win: a writer's own fresher version of a
    file is never clobbered by the carried-forward one); falls back to
    a copy across devices."""
    os.makedirs(dst, exist_ok=True)
    for name in os.listdir(src):
        s = os.path.join(src, name)
        d = os.path.join(dst, name)
        if os.path.isdir(s):
            link_tree(s, d)
        elif not os.path.exists(d):
            link_or_copy(s, d)


def carry_previous_flat(gen_dir: str, base: str, op_name: str) -> None:
    """Hard-link the previous generation's contents into ``gen_dir``
    for an APPEND-shaped writer: flat data files link forward, system
    (underscore/dot-prefixed) directories mirror via ``link_tree``,
    and a non-system DATA directory — a partitioned/nested layout —
    REFUSES the load before anything commits, because a flat appended
    slice beside ``key=value`` dirs is unreadable as one table
    ('Conflicting directory structures'). ``_stage*`` entries from a
    crashed writer are never resurrected. Shared by ``copy_into`` and
    ``ingest_validated`` (the r13 close-out's acknowledged duplicate
    loop; sharing it also closes ingest_validated's silent mixed-layout
    gap — it used to link nested dirs where copy_into refused)."""
    prev = os.path.realpath(base) if os.path.islink(base) else None
    if not (prev and os.path.isdir(prev)):
        return
    for entry in os.listdir(prev):
        src = os.path.join(prev, entry)
        if entry.startswith("_stage") and os.path.isdir(src):
            # never resurrect a crashed load's staging DIRECTORY; a
            # committed plain FILE that happens to be named _stage*
            # is data and must carry forward (r13 ADVICE)
            continue
        dst = os.path.join(gen_dir, entry)
        if os.path.isdir(src):
            if not entry.startswith(("_", ".")):
                raise ValueError(
                    f"{op_name} appends flat parquet slices, but the "
                    f"current generation of {base} holds a nested/"
                    f"partitioned data directory ({entry!r}); rewrite "
                    "the table flat (e.g. pipelines.maintenance."
                    "compact) before loading into it"
                )
            link_tree(src, dst)
        elif not os.path.exists(dst):
            link_or_copy(src, dst)


def adopt_staged(gen_dir: str, pairs: list[tuple[str, str]]) -> None:
    """Move a writer's ``_stage_*`` parquet outputs to their final
    directories under generation-unique ``<tag>-`` names (the tag
    prefix guarantees no collision with files carried forward from the
    previous generation) and remove the stage dirs. Missing stage dirs
    (an optional output that this run didn't produce) are skipped."""
    tag = os.path.basename(gen_dir)
    for src_dir, dst_dir in pairs:
        if not os.path.isdir(src_dir):
            continue
        os.makedirs(dst_dir, exist_ok=True)
        for f in os.listdir(src_dir):
            if f.endswith(".parquet"):
                os.rename(
                    os.path.join(src_dir, f),
                    os.path.join(dst_dir, f"{tag}-{f}"),
                )
        shutil.rmtree(src_dir, ignore_errors=True)


def list_generations(path: str) -> list[tuple[int, str]]:
    """(generation_no, dir) for every on-disk generation of a table,
    ascending — the table's retained history. The LAST entry is the
    current generation iff the pointer resolves to it; earlier entries
    are readable snapshots until a later swap sweeps them (see
    ``generation_swap``'s ``keep``)."""
    base = path.rstrip("/")
    gens = sorted((_gen_no(p), p) for p in _list_generations(base))
    return gens


def read_generation(spark, path: str, generation: int):
    """Time-travel read: the table AS OF a retained generation —
    Delta/Iceberg ``VERSION AS OF`` over the plain-parquet swap
    machinery. Raises if that generation has been swept (retention is
    ``generation_swap(keep=)``, default 1 previous)."""
    base = path.rstrip("/")
    gen_dir = f"{base}.__gen_{generation}__"
    if not os.path.isdir(gen_dir):
        retained = [g for g, _ in list_generations(base)]
        raise FileNotFoundError(
            f"generation {generation} of {base} not retained "
            f"(on disk: {retained})"
        )
    return catalog.read_parquet(spark, gen_dir)


def current_generation(path: str) -> int:
    """The generation number the table pointer currently resolves to
    (-1 for a legacy real-directory table that never swapped)."""
    return _gen_no(os.path.realpath(path.rstrip("/")))


def generation_swap(
    path: str,
    write_fn: Callable[[str], None],
    keep: int | None = None,
    carry_system_dirs: bool = True,
) -> str:
    """Write the table's next generation via ``write_fn(gen_dir)`` and
    atomically re-point ``path`` at it. Returns the new generation
    directory. See module docstring for the reader/crash contract.

    Underscore-prefixed SYSTEM directories in the outgoing generation
    (e.g. copy_into's ``_load_history`` ledger) are carried forward
    HERE, after ``write_fn`` runs, so every writer preserves them by
    construction — compact/cluster/merge rewrites that regenerate data
    files only can no longer silently drop the ledger and turn the
    next COPY INTO into a full (duplicating) reload (r12 ADVICE #1).
    A writer that produced its own version of a system dir keeps it:
    the carry-forward only fills in dirs (and, per file, names) the
    writer did not emit. Spark ignores underscore-prefixed paths in
    data reads, so carried dirs never leak into query results.
    ``carry_system_dirs=False`` opts a writer out — for REPLACE
    semantics (ingest_validated mode='overwrite'), where carrying the
    old COPY INTO ledger would make the next copy_into silently skip
    stage files whose rows the replace just wiped (r13 self-review).

    ``keep`` (r13) is the RETENTION knob — how many generations
    BEFORE the new one survive the sweep. keep=1 retains exactly the
    immediately previous generation as the in-flight-reader grace
    window (the pre-r13 behavior); keep=N turns the swap machinery
    into Delta-style time travel on plain parquet:
    ``read_generation(spark, path, k)`` reads the table AS OF any
    retained generation, ``list_generations`` enumerates them.
    Retention is by generation COUNT, not age — hard links make a
    retained generation cost only the files unique to it. An explicit
    ``keep`` also PERSISTS as the table's retention policy
    (``<table>.__retention__`` beside the generations), and the
    default ``keep=None`` reads it back — so ``compact(keep=10)``
    survives later writers that never heard of retention (a
    copy_into append no longer silently sweeps the history a
    maintenance job promised to keep; r13 self-review)."""
    base = path.rstrip("/")

    retention_file = f"{base}.__retention__"
    if keep is None:
        try:
            with open(retention_file, encoding="utf-8") as fh:
                keep = max(1, int(fh.read().strip()))
        except (OSError, ValueError):
            keep = 1
    else:
        keep = max(1, keep)
        try:
            with open(retention_file, "w", encoding="utf-8") as fh:
                fh.write(str(keep))
        except OSError:  # pragma: no cover - read-only parent
            pass

    if os.path.exists(base) and not os.path.islink(base):
        # one-time migration of a legacy real-directory table
        legacy = (
            f"{base}.__gen_"
            f"{max((_gen_no(p) for p in _list_generations(base)), default=-1) + 1}__"
        )
        os.rename(base, legacy)
        # Sibling-basename target: a symlink resolves relative to its
        # OWN directory, so an absolute/parented target string would
        # break for any relative table path with a directory component
        # (e.g. 'data/dim' → 'data/data/dim.__gen_0__', r11 ADVICE #1).
        os.symlink(os.path.basename(legacy), base)

    siblings = _list_generations(base)
    new_gen = max((_gen_no(p) for p in siblings), default=-1) + 1
    gen_dir = f"{base}.__gen_{new_gen}__"
    write_fn(gen_dir)

    prev_target = os.path.realpath(base)
    # carry system dirs (_load_history, ...) forward — see docstring
    if (
        carry_system_dirs
        and os.path.isdir(prev_target)
        and os.path.realpath(gen_dir) != prev_target
    ):
        for entry in os.listdir(prev_target):
            src = os.path.join(prev_target, entry)
            if entry.startswith("_") and os.path.isdir(src):
                link_tree(src, os.path.join(gen_dir, entry))
    tmp_link = f"{base}.__lnk_tmp__"
    if os.path.lexists(tmp_link):
        os.remove(tmp_link)
    os.symlink(os.path.basename(gen_dir), tmp_link)  # sibling-relative
    os.rename(tmp_link, base)  # atomic pointer swap
    # retire everything older than the ``keep`` most recent PUBLISHED
    # prior generations (keep=1: exactly the immediately previous one
    # — the grace period for in-flight scans). History counts only
    # generations up to the outgoing pointer: crash-orphaned
    # directories from failed earlier rewrites were never published,
    # so they are swept regardless of their number, exactly as before.
    prev_no = _gen_no(prev_target)
    history = sorted(
        (p for p in siblings if _gen_no(p) <= prev_no), key=_gen_no
    )
    retained = set(history[-max(1, keep):])
    for p in siblings:
        if os.path.realpath(p) != prev_target and p not in retained:
            shutil.rmtree(p, ignore_errors=True)
    return gen_dir
