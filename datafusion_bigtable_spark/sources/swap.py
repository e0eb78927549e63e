"""One commit protocol for every persistent store: atomic sidecar writes,
whole-store and per-partition directory swaps, the heals that finish or
undo a swap that a crash interrupted, and the footer recount behind a
store's pending-manifest marker.

No reference analogue: Bigtable commits every write and compaction, and
the reference connector only reads (src/execute_plan.rs).  The IVF store
(operators/similarity.py), the postings store (operators/retrieval.py),
the shard stores (sources/layout.py, sources/shards.py) and the cells
store (sources/cells.py) own their files, so they commit through this
module.  The design is the same for each: write the new data aside,
rename the live copy to a named backup, rename the new one in, and let
the next open heal a crash from the NAMES left on disk.  A json marker
could be torn by the crash it records; a rename cannot.

- **Sidecars** (:func:`write_file`, :func:`write_json`): written to
  ``<target>.tmp`` and renamed over the target, so a crash leaves the old
  or the new file, never a torn one.  A store whose commit marker is a
  sidecar (IVF meta, PQ meta, postings meta, range-layout meta) keeps its
  own commit order on top: "meta removed first, committed last" windows
  stay where they are.
- **Whole store** (:class:`StoreSwap`): the rebuild is written complete
  to ``<path>._<tag>_tmp``, its completeness file last.  The swap renames
  ``path`` to ``<path>._<tag>_old`` and the rebuild to ``path``, checks
  the completeness file, and drops the backup.  Heal: ``path`` present →
  drop the backup once ``path`` is complete (never the last readable
  copy); ``path`` absent → roll forward to a complete rebuild, else roll
  back to the backup.
- **Partitions** (:class:`PartitionSwap`): one Spark job writes every
  rewritten partition to ``<path>/<tmp>/<col>=K`` (its ``_SUCCESS`` marks
  the write complete).  Each partition then renames ``<col>=K`` to
  ``<old><col>=K`` and the rewrite in; a partition the rewrite lacks has
  zero rows and stays absent.  The backups and the temp dir go last.
  Heal, per backup: live partition present → drop the backup; absent and
  the temp dir complete → roll forward (a rewrite without the partition
  means zero rows: drop the backup); otherwise restore the backup.  A
  heal that found a backup drops the temp dir; so does one that finds a
  complete temp dir and no backup, where the store asks for it
  (``drop_unswapped``).  An incomplete temp dir with no backup may be a
  rewrite still running, so it is left to the next mutation, which
  clears it first.
- **Pending manifest**: a mutation after which a store's manifest could
  lag its files arms the store's marker (a sidecar) before it touches a
  file.  An open that finds it re-runs the refresh from the footers
  (:func:`partition_stats`).  Only a writer clears it: its own refresh,
  or the next writer's entry.  A reader's heal cannot tell a crashed
  writer from one still mid-mutation, so it recounts and leaves the
  marker to cover the writer's later steps.  An unparsable marker
  refreshes every partition instead of failing.

One maintenance writer per store.  Readers heal on open, and every heal
step tolerates a concurrent healer (two readers may race into the same
heal).  A reader that heals while a writer is swapping partitions may
take the rewrite away; the writer then raises before it moves another
partition or drops a backup, and the next heal restores what it left.
Two rules make that hold: a heal drops a temp dir by renaming it aside
first (``<tmp>_dropped``, then deleted), so it vanishes whole and a
partition's rename takes all of its rewrite or fails; and a missing
partition in the rewrite is read as zero rows only while the rewrite's
``_SUCCESS`` is still there afterwards.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable


def _rename(src: str, dst: str) -> None:
    os.replace(src, dst)


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path)
    else:
        os.remove(path)


def discard(path: str) -> None:
    """Remove a file or a directory tree if it is there."""
    if os.path.lexists(path):
        with contextlib.suppress(FileNotFoundError):
            _remove(path)


def write_file(target: str, write: Callable[[str], None]) -> None:
    """Atomic sidecar write: ``write(tmp)`` fills ``<target>.tmp``, which
    then replaces ``target`` in one rename."""
    tmp = target + ".tmp"
    write(tmp)
    _rename(tmp, target)


def write_json(target: str, payload) -> None:
    def dump(tmp: str) -> None:
        with open(tmp, "w") as f:
            json.dump(payload, f)

    write_file(target, dump)


def partition_stats(path: str, col: str, parts=None) -> dict[int, dict]:
    """Per-partition ``{files, rows}`` of ``<path>/<col>=K`` from the
    listing and the parquet footers: no data page, no Spark job.  ``parts``
    limits it to those partitions (an absent one counts zero); None lists
    every integer partition.  A non-integer one (a NULL key's
    ``__HIVE_DEFAULT_PARTITION__``) is skipped: no swap can address it, and
    it stays readable."""
    import pyarrow.parquet as pq

    if parts is None:
        parts = []
        for d in glob.glob(os.path.join(path, f"{col}=*")):
            with contextlib.suppress(ValueError):
                parts.append(int(os.path.basename(d).split("=", 1)[1]))
    out = {}
    for p in parts:
        files = glob.glob(os.path.join(path, f"{col}={p}", "*.parquet"))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        out[int(p)] = {"files": len(files), "rows": rows}
    return out


@dataclass(frozen=True)
class StoreSwap:
    """Swap of the whole store at ``path`` for its rebuild at
    :meth:`tmp`; ``complete`` is the file the rebuild writes last."""

    tag: str
    complete: str

    def tmp(self, path: str) -> str:
        return f"{path.rstrip('/')}._{self.tag}_tmp"

    def _old(self, path: str) -> str:
        return f"{path.rstrip('/')}._{self.tag}_old"

    def _done(self, path: str) -> bool:
        return os.path.isfile(os.path.join(path, self.complete))

    def swap(self, path: str) -> None:
        old = self._old(path)
        discard(old)
        _rename(path, old)
        _rename(self.tmp(path), path)
        if not self._done(path):
            raise RuntimeError(
                f"swap left no complete store at {path}; the old store is preserved at {old}"
            )
        _remove(old)

    def heal(self, path: str) -> None:
        old = self._old(path)
        if not os.path.exists(path):
            src = self.tmp(path) if self._done(self.tmp(path)) else old
            if os.path.lexists(src):
                with contextlib.suppress(OSError):  # a concurrent healer won
                    _rename(src, path)
        if self._done(path):
            discard(old)


@dataclass(frozen=True)
class PartitionSwap:
    """Swap of single partitions of the store at ``path`` for their
    rewrites under ``<path>/<tmp>``; ``old`` prefixes each backup's name.
    ``refresh(path, marker)`` rewrites the store's manifest from the
    footers of the partitions the marker payload names (all of them when
    ``marker`` is None).  ``drop_unswapped``: a heal drops a complete
    rewrite that no swap has started (else it stays, and a reader cannot
    abort a writer that is still checking its rewrite)."""

    tmp: str
    old: str
    marker: str
    refresh: Callable[[str, dict | None], None]
    drop_unswapped: bool = False

    def arm(self, path: str, payload: dict) -> None:
        """Record, before any file moves, that the manifest may lag."""
        write_json(os.path.join(path, self.marker), payload)

    def swap(self, path: str, parts) -> None:
        """Swap in the rewrites of ``parts`` (partition dir names)."""
        tmp = os.path.join(path, self.tmp)
        for part in parts:
            self._check_rewrite(tmp)
            _rename(os.path.join(path, part), os.path.join(path, self.old + part))
            if os.path.isdir(os.path.join(tmp, part)):
                _rename(os.path.join(tmp, part), os.path.join(path, part))
        # a partition seen absent above had zero rows only if the rewrite
        # was still whole after it (a heal drops it whole)
        self._check_rewrite(tmp)
        for part in parts:
            discard(os.path.join(path, self.old + part))
        discard(tmp)

    @staticmethod
    def _check_rewrite(tmp: str) -> None:
        if not os.path.isfile(os.path.join(tmp, "_SUCCESS")):
            raise RuntimeError(
                f"swap aborted: the rewrite at {tmp} is gone (a concurrent heal "
                "dropped it); the next open restores every partition it left"
            )

    def heal(self, path: str, writer: bool = False) -> None:
        """Finish or undo an interrupted swap and recount what the marker
        names; only a ``writer``'s heal clears the marker."""
        tmp = os.path.join(path, self.tmp)
        done = os.path.join(tmp, "_SUCCESS")
        backups = glob.glob(os.path.join(path, self.old + "*=*"))
        for backup in backups:
            part = os.path.basename(backup)[len(self.old):]
            live, new = os.path.join(path, part), os.path.join(tmp, part)
            if not os.path.exists(live):
                src = new if os.path.isfile(done) else backup
                if os.path.isdir(src):
                    with contextlib.suppress(OSError):  # a concurrent healer won
                        _rename(src, live)
            # zero rows: the rewrite lacks the partition and was still
            # whole after that was seen
            if os.path.exists(live) or (not os.path.isdir(new) and os.path.isfile(done)):
                discard(backup)
        dropped = tmp + "_dropped"
        discard(dropped)  # a heal that crashed while dropping
        if os.path.isdir(tmp) and (backups or (self.drop_unswapped and os.path.isfile(done))):
            with contextlib.suppress(OSError):  # a concurrent healer won
                _rename(tmp, dropped)
            discard(dropped)
        self.refresh_manifest(path, clear=writer)

    def finish(self, path: str, payload: dict) -> None:
        """The writer's own refresh after its swap, then the marker goes."""
        self.refresh(path, payload)
        discard(os.path.join(path, self.marker))

    def refresh_manifest(self, path: str, clear: bool = True) -> None:
        """Refresh the manifest the marker names, then clear the marker
        unless ``clear`` is false (a reader's heal); a no-op without a
        marker."""
        marker = os.path.join(path, self.marker)
        if not os.path.exists(marker):
            return
        try:
            with open(marker) as f:
                payload = json.load(f)
        except (OSError, ValueError):
            payload = None
        self.refresh(path, payload if isinstance(payload, dict) else None)
        if clear:
            discard(marker)
