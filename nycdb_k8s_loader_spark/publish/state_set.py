"""Atomic multi-table state publish — N state tables, ONE pointer flip.

The c08/c09 incremental-curation funnel keeps FOUR published states
(sentence keys, duplicated grams, dedup signatures, frozen mixture
rates).  A takedown compacts all four; until round 12 each compacted
frame was written to its own fixed path independently, so a probe
racing a takedown could read a compacted signature state next to
stale rates — exactly the torn-read class the reference prevents by
wrapping every per-load SET SCHEMA in one transaction
(reference: load_dataset.py:209-252, all-tables-one-commit).

Spark-side twin: every publish writes ALL tables of the set into ONE
fresh immutable version directory
``<root>/<logical>__v_<epoch>_<seq>/<table>/`` and then performs a
single :class:`VersionPointer`
flip (one atomic KV write, temp-file + ``os.replace`` under
``ParquetKVStore``).  Readers resolve the pointer ONCE and read every
table of the set out of that one directory — a reader interleaved
anywhere between per-table writes sees the complete PREVIOUS set,
never a mix (pinned by the ``TestStateSetPublisher`` tests).

Scale shape: the publish cost is one parquet write per state table —
linear in state size, zero shuffles beyond what the state frames
themselves carry; the flip is O(1).  Old versions stay on disk for a
reader grace window and are pruned keep-N.
"""

from __future__ import annotations

import contextlib
import os
import re
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

try:  # POSIX-only; the engine targets Linux executor hosts
    import fcntl
except ImportError:  # pragma: no cover - non-POSIX fallback
    fcntl = None  # type: ignore[assignment]

_UNSET = object()


class VersionPointer:
    """ONE current-version pointer per logical state set — the atomic
    commit of :class:`StateSetPublisher` (the Spark twin of the
    reference's single transaction around all SET SCHEMAs,
    load_dataset.py:244-252).

    Backed by any str→str MutableMapping with ``get_or_none`` /
    write-through mutation (``state.kvstore.ParquetKVStore`` persists
    each flip via temp-file + ``os.replace`` — readers see the old
    value or the new value, never a torn one; ``DictKVStore`` for
    tests). The pointer is the ONLY shared mutable state: version
    dirs themselves are immutable once pointed at.
    """

    _PREFIX = "current_db_version:"

    def __init__(self, kv) -> None:
        self.kv = kv

    def current(self, logical_db: str) -> str | None:
        get = getattr(self.kv, "get_or_none", self.kv.get)
        return get(self._PREFIX + logical_db)

    def flip(self, logical_db: str, physical_db: str) -> None:
        """THE commit: one atomic KV write."""
        self.kv[self._PREFIX + logical_db] = physical_db

    def resolve(self, logical_db: str) -> str:
        """What ``logical_db`` currently names — the pointed-at
        version, or the name itself when it was never published."""
        return self.current(logical_db) or logical_db


def version_db_name(target_db: str, epoch: int, seq: int) -> str:
    """``<target>__v_<epoch>_<seq>`` — lexically ordered so pruning can
    sort; double underscore keeps it unambiguous vs user names."""
    return f"{target_db}__v_{epoch}_{seq:06d}"


_VERSION_DB = re.compile(r"(.+)__v_(\d+)_(\d{6})$")


def parse_version_db(db: str) -> str | None:
    """Logical name a version name belongs to, else None."""
    m = _VERSION_DB.fullmatch(db)
    return m.group(1) if m else None


class ConcurrentPublishError(RuntimeError):
    """Raised when a compare-and-swap publish loses the race: the
    pointer moved past ``expected_version`` while this publisher was
    writing.  The caller's compaction was derived from a state set
    that is no longer current — re-read and re-derive, never flip."""


class StateSetPublisher:
    """Publish a NAMED SET of state tables as one atomic unit.

    ``kv`` is any str→str mapping with ``get_or_none`` (DictKVStore
    for tests, ParquetKVStore for a persisted pointer).  The pointer
    key is ``current_db_version:<logical>``.
    """

    def __init__(self, root: str, kv) -> None:
        self.root = root
        self.pointer = VersionPointer(kv)

    # -- write side ----------------------------------------------------

    def publish(
        self,
        logical: str,
        frames: dict[str, DataFrame],
        epoch: int | None = None,
        expected_version: str | None | object = _UNSET,
    ) -> str:
        """Write every frame into one fresh version dir, then flip the
        ONE pointer.  Returns the version dir path.

        The flip happens strictly after the LAST table's ``_SUCCESS``
        lands: a failure in any write leaves the pointer untouched
        (readers keep the complete previous set) and the partial
        version dir unreferenced for :meth:`prune` to collect.

        Two concurrent-writer guards (both matter once takedown
        pipelines run unattended next to each other):

        - the version dir is CLAIMED with one atomic ``os.mkdir``
          before any table lands, so two publishers in the same epoch
          second always write DISJOINT dirs — without the claim, both
          could compute the same seq and interleave *different* tables
          into one dir (per-table ``errorifexists`` does not catch
          that), publishing a mixed set.
        - ``expected_version`` turns the flip into a compare-and-swap:
          pass the version the compaction was derived from (None for
          "first publish") and the flip happens only if the pointer
          still points there; otherwise :class:`ConcurrentPublishError`
          — a lost takedown must be re-derived from the NEW current
          set, never silently overwritten last-write-wins.  Default
          (``_UNSET``) keeps the unconditional single-writer flip —
          which ALSO takes the flip lock (r12 advisory: an unlocked
          unconditional flip landing between a CAS publisher's check
          and flip would be silently overwritten, the exact
          last-write-wins race CAS exists to prevent; the lock is one
          flock on a host-local file, cheap next to a parquet write).

        A CAS loser removes its own (complete but never-referenced)
        version dir before raising, so lost races leave no disk
        residue for :meth:`prune` to chase.
        """
        if not frames:
            raise ValueError("state set must contain at least one table")
        epoch = int(time.time()) if epoch is None else epoch
        vdir = self._claim_version_dir(logical, epoch)
        for name, df in frames.items():
            df.write.mode("errorifexists").parquet(
                os.path.join(vdir, name)
            )
        # THE commit — one atomic KV write covering the whole set,
        # always under the flip lock so unconditional and CAS
        # publishers on one logical set serialize against each other
        with self._flip_lock():
            if expected_version is not _UNSET:
                current = self.pointer.current(logical)
                if current != expected_version:
                    # the loser's dir is COMPLETE (every table landed
                    # before the CAS check) but unreferenced — no
                    # reader ever resolved it, so removing it here is
                    # safe and keeps lost races disk-neutral
                    shutil.rmtree(vdir, ignore_errors=True)
                    raise ConcurrentPublishError(
                        f"state set {logical!r}: pointer moved to "
                        f"{current!r} (expected {expected_version!r}) — "
                        "re-derive from the current set; the loser's "
                        f"unreferenced version dir {vdir!r} was removed"
                    )
            self.pointer.flip(logical, vdir)
        return vdir

    def _claim_version_dir(self, logical: str, epoch: int) -> str:
        """Atomically claim a fresh version dir: probe seqs upward and
        take the first ``os.mkdir`` that succeeds (mkdir is the
        claim — it fails with EEXIST for a dir another publisher owns,
        which a listdir-then-write sequence cannot guarantee)."""
        os.makedirs(self.root, exist_ok=True)
        seq = self._next_seq(logical, epoch)
        while True:
            vdir = os.path.join(
                self.root, version_db_name(logical, epoch, seq)
            )
            try:
                os.mkdir(vdir)
                return vdir
            except FileExistsError:
                seq += 1

    @contextlib.contextmanager
    def _flip_lock(self):
        """Driver-side critical section for check-and-flip, one lock
        file per publisher root (``flock`` — works across processes on
        one host, which is where this engine's drivers coordinate; a
        multi-driver deployment swaps the KV store for a catalog with
        native CAS and this lock degrades to a no-op cost)."""
        if fcntl is None:  # pragma: no cover - non-POSIX
            yield
            return
        os.makedirs(self.root, exist_ok=True)
        with open(os.path.join(self.root, ".pointer.lock"), "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            try:
                yield
            finally:
                fcntl.flock(fh, fcntl.LOCK_UN)

    def _next_seq(self, logical: str, epoch: int) -> int:
        """Monotonic within an epoch second — mirrors the version-db
        naming so two publishes in the same second can't collide."""
        if not os.path.isdir(self.root):
            return 0
        prefix = f"{logical}__v_{epoch}_"
        taken = [
            int(d[len(prefix):])
            for d in os.listdir(self.root)
            if d.startswith(prefix) and d[len(prefix):].isdigit()
        ]
        return max(taken) + 1 if taken else 0

    # -- read side -------------------------------------------------------

    def read(
        self, spark: SparkSession, logical: str
    ) -> dict[str, DataFrame]:
        """Resolve the pointer ONCE, then read every table of the set
        from that single immutable version dir.  Because resolution is
        a single KV read and the dir never mutates, no interleaving
        with a concurrent publish can yield tables from two versions.
        """
        vdir = self.pointer.current(logical)
        if vdir is None:
            raise LookupError(f"state set {logical!r} never published")
        return {
            name: spark.read.parquet(os.path.join(vdir, name))
            for name in sorted(os.listdir(vdir))
            if os.path.isdir(os.path.join(vdir, name))
        }

    def current_version(self, logical: str) -> str | None:
        return self.pointer.current(logical)

    # -- retention -------------------------------------------------------

    def prune(
        self,
        logical: str,
        keep: int = 2,
        max_age_s: float | None = None,
    ) -> list[str]:
        """Drop all but the newest ``keep`` version dirs of
        ``logical``, NEVER the currently-pointed-at one (in-flight
        readers of recent old versions get a grace window by keeping
        keep>=2).  Partial dirs from failed publishes sort oldest and
        age out the same way.  Returns what was removed.

        ``max_age_s`` adds a compliance bound (r12 verdict stretch
        #8): a takedown-heavy deployment wants "keep N AND nothing
        older than T" so retired content cannot persist indefinitely
        inside superseded version dirs.  Any non-current dir whose
        mtime is older than ``now - max_age_s`` is removed even if it
        is inside the keep-N window — including unreferenced dirs
        that sort NEWER than the current version (crash leftovers
        from a CAS loser that died before its own cleanup; a live
        in-progress publish is safe because its claim dir's mtime is
        seconds old).  The pointed-at version is never deleted under
        any combination of arguments."""
        if not os.path.isdir(self.root):
            return []
        vdirs = sorted(
            d
            for d in os.listdir(self.root)
            if parse_version_db(d) == logical
        )
        current = self.pointer.current(logical)
        beyond_keep = set(vdirs[: max(0, len(vdirs) - keep)])
        now = time.time()

        def too_old(d: str) -> bool:
            if max_age_s is None:
                return False
            try:
                return os.path.getmtime(
                    os.path.join(self.root, d)
                ) < now - max_age_s
            except OSError:  # pragma: no cover - raced with removal
                return False

        doomed = [
            d
            for d in vdirs
            if (d in beyond_keep or too_old(d))
            and (current is None or os.path.join(self.root, d) != current)
        ]
        for d in doomed:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)
        return doomed
