"""Managed-table storage layer — SURVEY §2.2 sinks (K1 upsert, K2
truncate-load, K3 field-level update, K4 partitioned bronze, K6 layout).

The reference's MongoDB collections become parquet-backed managed tables
under a warehouse root; every mutation is expressed as a *set-oriented
merge* keyed on the table's primary key (url/name → here a generic
``key``), replacing per-record ``update_one(..., upsert=True)`` loops
(mongo_io_manager.py:81-104).

Write protocol: jobs never mutate in place — they write a new table
version to a side directory and atomically swap the table symlink-style
(rename).  On a real deployment this layer is the one-file swap for a
transactional format (Delta/Iceberg ``MERGE INTO``); the operator and job
layers above only see DataFrames in / DataFrames out.

Crash safety: no swap ever deletes live data before its replacement is
adjacent on the same filesystem.  Partition swaps stage the new version
under a hidden ``.swap-<token>/`` dir INSIDE the table root, retire the
old partition into the same dir by rename, commit the new one by rename,
and only then delete the retired copy.  Recovery (:meth:`_recover`)
runs on every read (:meth:`read`, :meth:`table_rows`) and on every
writer-lock acquisition, so any reader or writer first completes an
interrupted swap it finds (roll forward — the staged data is a full new
version of its partitions): a crash at ANY step leaves every partition
either fully-old or fully-new and the table always readable, and no
writer builds on wreckage.  Full-table swaps roll forward iff the side
write carries Spark's ``_SUCCESS`` commit marker, else roll back to the
retired copy.

Concurrency: SINGLE WRITER PER TABLE.  Every mutating method takes a
pid-stamped lock file (``.<table>.lock``); a second concurrent writer
gets :class:`TableLockedError` instead of silently last-writer-winning
whole partitions (the reference runs its 4 asset processes against
different collections/fields — definitions.py:83-85 — and gets per-doc
atomicity from Mongo; here the contract is explicit).  Locks from
crashed processes (dead pid) are stolen.  Readers don't lock: crash
recovery never deletes committed data, and a reader concurrent with a
live writer sees the pre-swap version of untouched partitions.

Scale notes: `merge_upsert` is one left_anti join on the key — with the
updates side small (a work batch) it broadcast-joins against the target
scan and rewrites only matching partitions' worth of data; `partition_by`
on lifecycle/date columns keeps the rewrite bounded (K6's index analog).
Multi-partition swaps are per-partition atomic, not transactional as a
whole — the production upgrade is a manifest-committing table format.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class TableLockedError(RuntimeError):
    """Another live process holds the table's writer lock."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # pragma: no cover - exists, other user
        return True
    return True


class Warehouse:
    """A directory of parquet tables with versioned atomic replacement."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        #: path -> (inode, mtime_ns, scan DataFrame).  A logical plan, not
        #: data: every action still reads the current files.  Removes the
        #: ~110 ms/call schema-inference + file-index driver cost of
        #: spark.read.parquet for REPEAT reads of an UNCHANGED table
        #: version (a q128 drain makes 27 reads, 12 of them repeats —
        #: measured at r15).  Every committing write path mutates the
        #: table dir itself (_swap_full renames the dir: new inode;
        #: _swap_partitions stages .swap-* inside it and renames direct
        #: children: new mtime), so a changed table can never hit a stale
        #: entry; _recover runs BEFORE the stat, so a crash-finish also
        #: invalidates.  One slot per path — a drain's superseded versions
        #: don't accumulate — and instance-scoped: temp warehouses die
        #: with their Warehouse object.
        self._read_memo: dict[str, tuple[int, int, DataFrame]] = {}

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.path(table))

    #: namespace write_bronze snapshots live under — NOT a table: the
    #: bronze/{table}/run_id=... tree is heterogeneous raw provenance, and
    #: auditing/compacting it as a table would rewrite it flat (ADVICE r11
    #: #2 — destroying snapshot provenance, or failing on mixed schemas)
    BRONZE_DIR = "bronze"

    def tables(self) -> list[str]:
        """Live table names — every non-hidden directory under the root
        (lock files and in-flight .tmp side-writes are dot-prefixed; the
        bronze snapshot namespace is excluded, see BRONZE_DIR)."""
        return sorted(
            d for d in os.listdir(self.root)
            if not d.startswith(".")
            and d != self.BRONZE_DIR
            and os.path.isdir(os.path.join(self.root, d))
        )

    def read(self, table: str) -> DataFrame:
        self._recover(table)
        p = self.path(table)
        st = os.stat(p)
        hit = self._read_memo.get(p)
        if hit is not None and hit[0] == st.st_ino and hit[1] == st.st_mtime_ns:
            return hit[2]
        df = self.spark.read.parquet(p)
        self._read_memo[p] = (st.st_ino, st.st_mtime_ns, df)
        return df

    # -- single-writer lock ----------------------------------------------------
    @contextlib.contextmanager
    def _writer_lock(self, table: str):
        """Pid-stamped exclusive writer lock.  Raises TableLockedError when a
        LIVE process holds it; a dead holder's lock is stolen (crashed
        writer — its interrupted swap is completed by the :meth:`_recover`
        that runs right after acquisition, before the caller's body).

        Three race windows are closed by construction (review r12 +
        ADVICE r12 #1): the pid is stamped into a private file BEFORE the
        atomic ``os.link`` that creates the lock, so no observer ever
        reads an empty/partial lock and mistakes a live writer for a
        stale one; a stale lock is stolen by atomic RENAME — exactly one
        stealer wins, losers loop and re-examine whatever lock now exists
        instead of unlinking a fresh rival; and the steal is IDENTITY
        VERIFIED — the stealer records the examined lock's inode (fstat on
        the handle it read the dead pid from) and, after the rename,
        confirms the wrecked file IS that inode.  Without that check, a
        rival stealer could complete its own steal and link a fresh LIVE
        lock between our read and our rename; our rename would then strip
        the live writer and both processes would mutate the table.  On a
        mismatch the wrongly-taken lock is restored by atomic ``os.link``
        (never overwrites a newer rival) and the loop re-examines.
        Release is identity-checked the same way (unlink only our own
        inode).  Residual corners, documented not hidden (both require
        the mistaken-rename triple-race to begin): (a) if a THIRD
        acquirer links into the instant between a mistaken rename and its
        restore, the restore fails and the rival's seat is lost; (b) if
        the wrecked rival RELEASES before the restore lands, the restore
        resurrects a lock naming a live pid with no writer behind it —
        later acquirers see a live holder until that pid exits, at which
        point the dead-pid steal clears it (self-healing, but blocked in
        the interim).  A multi-host deployment replaces this file lock
        with a lock service (module docstring)."""
        lock = self.path(f".{table}.lock")
        mine = f"{lock}.{os.getpid()}.{uuid.uuid4().hex[:6]}"
        with open(mine, "w") as fh:
            fh.write(str(os.getpid()))
        my_ino = os.stat(mine).st_ino
        acquired = False
        try:
            while True:
                try:
                    os.link(mine, lock)
                    acquired = True
                    break
                except FileExistsError:
                    # fstat BEFORE parsing, so even a garbage-content lock
                    # carries a verified inode into the steal below; a lock
                    # we cannot OPEN is never stolen blind (review r13: an
                    # unverified steal here could strip a rival's fresh
                    # live lock through the lock_ino=None hole the r12 fix
                    # left open).  A VANISHED lock is re-examined (the
                    # next os.link likely succeeds); a PERSISTENTLY
                    # unopenable one (EACCES — foreign-owned wreckage)
                    # raises instead of hot-spinning or stealing blind —
                    # it needs an operator, not a guess (review r13
                    # pass 2).
                    try:
                        with open(lock) as fh:
                            lock_ino = os.fstat(fh.fileno()).st_ino
                            try:
                                holder = int(fh.read().strip() or "-1")
                            except ValueError:
                                holder = -1
                    except FileNotFoundError:
                        continue
                    except OSError as exc:
                        raise TableLockedError(
                            f"table {table!r} has an unreadable lock file "
                            f"({exc}); cannot verify its holder — remove "
                            f"{lock} manually if its writer is known dead"
                        ) from exc
                    if holder == os.getpid():
                        raise TableLockedError(
                            f"re-entrant write on table {table!r} from the same "
                            "process (nested mutation?)"
                        ) from None
                    if holder != -1 and _pid_alive(holder):
                        raise TableLockedError(
                            f"table {table!r} is locked by live pid {holder}; "
                            "one writer per table (see module docstring)"
                        ) from None
                    # stale (dead pid) or unreadable: steal by atomic rename
                    wreck = f"{lock}.stale.{uuid.uuid4().hex[:6]}"
                    try:
                        os.rename(lock, wreck)
                    except FileNotFoundError:
                        continue  # another stealer won; re-examine
                    # ADVICE r12 #1: verify we renamed the inode whose dead
                    # pid we examined — a mismatch means we just stripped a
                    # rival's FRESH lock; put it back and re-examine
                    try:
                        wreck_ino = os.stat(wreck).st_ino
                    except FileNotFoundError:  # pragma: no cover - swept
                        continue
                    if wreck_ino != lock_ino:
                        with contextlib.suppress(FileExistsError, FileNotFoundError):
                            os.link(wreck, lock)
                        with contextlib.suppress(FileNotFoundError):
                            os.unlink(wreck)
                        continue
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(wreck)
            self._recover(table)
            yield
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(mine)
            if acquired:
                # release ONLY our own lock (identity check): after a
                # pathological steal our name could already point at a
                # rival's lock — blind unlink would strip it
                with contextlib.suppress(FileNotFoundError):
                    if os.stat(lock).st_ino == my_ino:
                        os.unlink(lock)

    # -- K2: truncate-and-load ------------------------------------------------
    def overwrite(self, df: DataFrame, table: str, *, partition_by: list[str] | None = None) -> None:
        """Full replace via write-aside + swap (never reads-while-writing,
        never deletes the live table before the replacement is adjacent)."""
        with self._writer_lock(table):
            self._overwrite_locked(df, table, partition_by=partition_by)

    def _overwrite_locked(
        self, df: DataFrame, table: str, *, partition_by: list[str] | None = None
    ) -> None:
        tmp = self.path(f".{table}.tmp-{uuid.uuid4().hex[:8]}")
        if partition_by:
            # Without this, every input partition emits one file per hive
            # partition value (observed: 128 files for a 1000-row table) and
            # every later scan/merge pays the per-file open cost.  REBALANCE
            # lets AQE coalesce to advisory-sized output files — and split
            # oversized partitions at scale, so it is safe in both modes.
            df = df.hint("rebalance", *partition_by)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        self._swap_full(tmp, table)

    def _swap_full(self, tmp: str, table: str) -> None:
        """Commit a fully-written side directory as the new table version:
        retire old by rename, commit new by rename, then delete the retired
        copy.  The one-rename crash window (old retired, new not yet in) is
        closed by :meth:`_recover`: tmp still carries ``_SUCCESS``, so the
        next read or writer rolls forward."""
        final = self.path(table)
        old = self.path(f".{table}.old-{uuid.uuid4().hex[:8]}")
        if os.path.isdir(final):
            os.rename(final, old)
        os.rename(tmp, final)
        if os.path.isdir(old):
            shutil.rmtree(old)

    def _recover(self, table: str) -> None:
        """Complete any interrupted swap so the table is always readable.

        Full-table swap wreckage: table dir missing -> roll forward to a
        ``.tmp-*`` side write that carries Spark's ``_SUCCESS`` commit
        marker, else roll back to the newest ``.old-*`` retired copy.
        Table dir present -> retired/tmp siblings are garbage.  Partition
        swap wreckage (``.swap-*`` inside the table root) is completed by
        :meth:`_complete_swap` (roll forward).  Assumes the single-writer
        contract — a LIVE writer's in-flight side dirs must not be judged,
        so recovery of sibling wreckage only runs when no live lock is
        held."""
        final = self.path(table)
        lock = self.path(f".{table}.lock")
        live = False
        if os.path.isfile(lock):
            try:
                with open(lock) as fh:
                    holder = int(fh.read().strip() or "-1")
                live = holder != os.getpid() and _pid_alive(holder)
            except FileNotFoundError:
                live = False  # lock vanished between probe and open
            except OSError:
                # a lock that EXISTS but cannot be opened must be treated
                # as a live writer — the acquire path fails fast
                # (TableLockedError) on exactly this state, and running
                # the sidecar sweep / swap completion under it would act
                # beneath a writer we merely cannot see (ADVICE r13)
                live = True
            except ValueError:
                live = False  # unparseable content: same as acquire path
        if not live:
            base = os.path.basename(self.path(table))
            tmps = sorted(
                d for d in os.listdir(self.root)
                if d.startswith(f".{base}.tmp-") or d.startswith(f".{base}.old-")
            )
            if not os.path.isdir(final):
                committed = [
                    d for d in tmps
                    if d.startswith(f".{base}.tmp-")
                    and os.path.isfile(os.path.join(self.root, d, "_SUCCESS"))
                ]
                rollback = [d for d in tmps if d.startswith(f".{base}.old-")]
                if committed:
                    os.rename(os.path.join(self.root, committed[-1]), final)
                elif rollback:
                    os.rename(os.path.join(self.root, rollback[-1]), final)
            if os.path.isdir(final):
                for d in tmps:
                    p = os.path.join(self.root, d)
                    if os.path.isdir(p):
                        shutil.rmtree(p, ignore_errors=True)
            # ADVICE r12 #3: a writer that crashes while holding the lock
            # leaks its pid-stamped sidecar (.{t}.lock.{pid}.{hex}), and a
            # stealer that crashes mid-steal leaks .{t}.lock.stale.{hex};
            # neither is a directory, so the tmp/old sweep above never
            # touches them.  A sidecar is removed only when the pid it
            # belongs to is DEAD — for pid-stamped sidecars that's the
            # name tag, for stale wrecks it's the file CONTENT (review
            # r13: a wreck in a live stealer's mistaken-rename window
            # holds a rival's LIVE lock pending restore; sweeping it by
            # name alone would defeat the restore and strip the rival).
            prefix = f".{base}.lock."
            for d in os.listdir(self.root):
                if not d.startswith(prefix):
                    continue
                p = os.path.join(self.root, d)
                tag = d[len(prefix):].split(".", 1)[0]
                if tag.isdigit():
                    pid = int(tag)
                else:
                    try:
                        with open(p) as fh:
                            pid = int(fh.read().strip() or "-1")
                    except (OSError, ValueError):
                        pid = -1
                if pid != -1 and _pid_alive(pid):
                    continue
                with contextlib.suppress(OSError):
                    os.unlink(p)
        # The swap completion is ALSO gated on "no live writer": a reader
        # must not commit a rival's half-staged swap out from under it
        # (review r12 — the staged set is only complete once the writer
        # finishes renaming; premature completion destroys the partitions
        # still being staged).  Our own lock (holder == getpid) does not
        # count as live, so a mutator's in-lock read still finishes its
        # crashed predecessor's swap.
        if not live and os.path.isdir(final):
            for d in os.listdir(final):
                if d.startswith(".swap-"):
                    self._complete_swap(final, os.path.join(final, d))

    # -- K1: keyed upsert (merge) --------------------------------------------
    def merge_upsert(
        self,
        updates: DataFrame,
        table: str,
        key: list[str],
        *,
        partition_by: list[str] | None = None,
        partition_rows=None,
    ) -> None:
        """``MERGE``: rows matching on ``key`` are replaced wholesale by the
        update row, new keys are inserted (mongo upsert semantics,
        mongo_io_manager.py:85-89).  Idempotent: re-merging the same batch
        is a no-op.  Plan: target ⟕(left_anti) updates ∪ updates — one join.

        The update KEY set is always broadcast into the anti-join: every
        caller merges a work-list-, ingest-slice- or micro-batch-sized
        batch, whose keys fit an executor.

        GROUP-REPLACE CONTRACT (load-bearing, test-pinned): the key need
        not be unique on either side — EVERY target row whose key appears
        in the update batch is dropped and EVERY update row is inserted.
        ``streaming/incremental.py:heavy_hitter_stream`` keys its merges
        on ``batch_id`` alone precisely so a replayed micro-batch replaces
        its ENTIRE prior contribution (stale candidate rows from a
        differently-partitioned replay must vanish, not merely be
        overwritten per key).  Any reimplementation — e.g. a transactional
        format's ``MERGE INTO``, whose WHEN MATCHED clause is
        one-row-per-key — must preserve this multi-row group-replace
        semantics (spell it DELETE WHERE key IN batch + INSERT).

        With ``partition_by``, the merge is PARTITION-SCOPED: only the
        partitions present in the update batch are read, rewritten, and
        swapped — the untouched rest of a 100 TB table is never touched
        (this is what makes a keyed merge viable at scale on plain
        parquet; a transactional format's ``MERGE INTO`` is the drop-in
        upgrade).  Contract: the key must be partition-stable (a key never
        moves between partition values — e.g. url → ingest date); a key
        that migrated would leave its old copy alive in an untouched
        partition.  The scoping and the swap are :meth:`_keyed_merge`'s."""

        def combine(target: DataFrame) -> DataFrame:
            kept = target.join(F.broadcast(updates.select(*key)), key, "left_anti")
            return kept.unionByName(updates, allowMissingColumns=True)

        self._keyed_merge(
            updates, table, combine, create=True,
            partition_by=partition_by, partition_rows=partition_rows,
        )

    def _keyed_merge(
        self, batch: DataFrame, table: str, combine, *, create: bool,
        partition_by: list[str] | None = None, partition_rows=None,
    ) -> None:
        """The one write path of every keyed merge: under the writer lock,
        create a missing table from ``batch`` (if ``create``; else the read
        raises), scope the target, and commit ``combine(target)``.  Flat:
        the whole table, full-table swap.  With ``partition_by``: the batch
        must carry the partition columns and the layout must match; only
        the partitions present in the batch (:meth:`_partition_filter`)
        are read and swapped, and an empty batch writes nothing."""
        if partition_by:
            missing = [c for c in partition_by if c not in batch.columns]
            if missing:
                raise ValueError(
                    f"partition-scoped merge needs partition cols {missing} "
                    "in the batch"
                )
        with self._writer_lock(table):
            if create and not self.exists(table):
                self._overwrite_locked(batch, table, partition_by=partition_by)
                return
            target = self.read(table)
            if not partition_by:
                self._overwrite_locked(combine(target), table)
                return
            self._assert_partitioned_layout(table, partition_by)
            cond = self._partition_filter(batch, partition_by, partition_rows)
            if cond is None:
                return
            self._swap_partitions(combine(target.filter(cond)), table, partition_by)

    def _partition_filter(
        self, batch: DataFrame, partition_by: list[str], partition_rows=None
    ):
        """OR-of-ANDs predicate selecting exactly the partitions present in
        ``batch`` (driver collect of the batch's distinct partition tuples —
        bounded by the batch, not the table), or None for an empty batch.
        Partition pruning turns it into a directory listing.

        ``partition_rows`` lets a caller that already collected the batch's
        partition tuples pass them in and skip the extra Spark action per
        merge.  Two callers do: the jobs layer, whose count phase
        ``jobs._materialize`` is a groupBy over exactly these columns, and
        the streaming sinks' probe-and-merge
        (``streaming.incremental.merge_block``), whose emptiness probe is
        the same groupBy."""
        parts = (
            partition_rows
            if partition_rows is not None
            else batch.select(*partition_by).distinct().collect()
        )
        cond = None
        for row in parts:
            c = None
            for col in partition_by:
                eq = F.col(col).eqNullSafe(F.lit(row[col]))
                c = eq if c is None else (c & eq)
            cond = c if cond is None else (cond | c)
        return cond

    def _assert_partitioned_layout(self, table: str, partition_by: list[str]) -> None:
        """A partition-scoped merge whose ``partition_by`` mismatches the
        table's on-disk layout at ANY depth would swap dirs of one shape
        into a tree of another — stale duplicates next to flat files, or
        mixed partition depths Spark refuses to read — so probe the FULL
        chain (review r12: a depth-1 probe let ['date','hour'] merge into
        a ['date'] table).  :meth:`partition_layout` walks every branch
        and already refuses mixed layouts; an empty table passes (nothing
        to corrupt)."""
        actual = self.partition_layout(table)
        if actual == list(partition_by):
            return
        if not actual and not self.table_files(table):
            return  # empty table: the swap establishes the layout
        raise ValueError(
            f"table {table!r} is not hive-partitioned by {partition_by}: "
            f"on-disk layout is {actual or 'flat'} — rewrite it with "
            f"overwrite(..., partition_by={partition_by}) before "
            "partition-scoped merges"
        )

    def _swap_partitions(
        self, slice_df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Write a partitioned slice aside (no read-while-overwrite on the
        live table), stage it INTO the table root under a hidden
        ``.swap-<token>/new/`` dir (pure renames — same filesystem,
        replacement adjacent before anything is touched), then commit via
        :meth:`_complete_swap`.  A crash at any step is finished by the
        next :meth:`read` or writer — never a lost or half-visible
        partition."""
        aside = self.path(f".{table}.merge-{uuid.uuid4().hex[:8]}")
        slice_df = slice_df.hint("rebalance", *partition_by)  # see _overwrite_locked
        slice_df.write.mode("overwrite").partitionBy(*partition_by).parquet(aside)
        final = self.path(table)
        swap = os.path.join(final, f".swap-{uuid.uuid4().hex[:8]}")
        new_root = os.path.join(swap, "new")
        for rel in self._partition_dirs(aside, len(partition_by)):
            dst = os.path.join(new_root, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(aside, rel), dst)
        shutil.rmtree(aside, ignore_errors=True)
        self._complete_swap(final, swap)

    def _complete_swap(self, final: str, swap: str) -> None:
        """Commit a staged partition swap; idempotent, resumable from any
        crash point.  Per partition: retire old by rename (never delete
        live data first), commit new by rename; stray retired copies whose
        partition lost both its new and final version are restored; the
        swap dir (now all garbage) goes last."""
        new_root = os.path.join(swap, "new")
        old_root = os.path.join(swap, "old")
        for rel in self._leaf_dirs(new_root):
            dst = os.path.join(final, rel)
            if os.path.isdir(dst):
                retired = os.path.join(old_root, rel)
                os.makedirs(os.path.dirname(retired), exist_ok=True)
                os.rename(dst, retired)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(os.path.join(new_root, rel), dst)
        for rel in self._leaf_dirs(old_root):
            dst = os.path.join(final, rel)
            if not os.path.isdir(dst):  # pragma: no cover - double-crash path
                os.rename(os.path.join(old_root, rel), dst)
        shutil.rmtree(swap, ignore_errors=True)

    @staticmethod
    def _leaf_dirs(root: str) -> list[str]:
        """Relative paths under ``root`` of directories that directly hold
        files — the staged/retired partition leaves of a swap dir (depth
        recorded implicitly by the layout, so recovery needs no journal)."""
        if not os.path.isdir(root):
            return []
        leaves = []
        for dirpath, _dirnames, filenames in os.walk(root):
            if filenames:
                leaves.append(os.path.relpath(dirpath, root))
        return sorted(leaves)

    @staticmethod
    def _partition_dirs(root: str, depth: int) -> list[str]:
        """Relative ``col=value[/col=value...]`` leaf partition paths under
        ``root`` at exactly ``depth`` levels (Spark's hive-style layout)."""
        rels = [""]
        for _ in range(depth):
            nxt = []
            for rel in rels:
                base = os.path.join(root, rel) if rel else root
                for d in os.listdir(base):
                    if "=" in d and os.path.isdir(os.path.join(base, d)):
                        nxt.append(os.path.join(rel, d) if rel else d)
            rels = nxt
        return rels

    # -- K3: field-level update ($set of derived columns) ---------------------
    def merge_update(
        self,
        delta: DataFrame,
        table: str,
        key: list[str],
        set_cols: list[str],
        *,
        partition_by: list[str] | None = None,
        partition_rows=None,
    ) -> None:
        """``WHEN MATCHED UPDATE SET c = delta.c``: only ``set_cols`` change,
        all other columns ride along; unmatched target rows are untouched;
        delta rows without a target match are dropped (the reference's
        ``$set`` never inserts).  This is each pipeline stage's write-back
        (summary/validation_score, embedding_status, audio ids,
        related_ids — SURVEY §2.2 K3).

        With ``partition_by`` the update is PARTITION-SCOPED like
        :meth:`merge_upsert`: the delta must carry the partition columns
        (a work batch read from the same table always does), and only the
        partitions its rows live in are read, rewritten and swapped.  The
        delta is always broadcast into the join, as the update keys are in
        :meth:`merge_upsert`.  A missing table raises: ``$set`` has
        nothing to update."""

        def combine(target: DataFrame) -> DataFrame:
            d = delta.select(*key, *[F.col(c).alias(f"__new_{c}") for c in set_cols])
            # The left join fans out on duplicate delta keys, silently
            # duplicating target rows (review r12) — refuse.  The guard is
            # IN-LINEAGE (the range_join raise_error discipline): a keyed
            # count window over the batch-sized delta, checked inside the
            # first projected column, so no extra Spark action runs per
            # merge (an eager aggregate here cost q128's drain ~2 jobs per
            # stage write-back).
            dup_n = F.count(F.lit(1)).over(Window.partitionBy(*key))
            guard = F.when(
                dup_n > 1,
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"merge_update: delta keys must be unique on {key} "
                            "(key "
                        ),
                        F.concat_ws("|", *[F.col(k).cast("string") for k in key]),
                        F.lit(
                            " repeats) — a duplicate would fan out the join "
                            "and duplicate target rows; dedupe the delta first"
                        ),
                    )
                ).cast(delta.schema[set_cols[0]].dataType),
            ).otherwise(F.col(f"__new_{set_cols[0]}"))
            d = d.withColumn(f"__new_{set_cols[0]}", guard)
            joined = target.join(F.broadcast(d), key, "left")
            out_cols = []
            for c in target.columns:
                if c in set_cols:
                    out_cols.append(F.coalesce(F.col(f"__new_{c}"), F.col(c)).alias(c))
                else:
                    out_cols.append(F.col(c))
            return joined.select(*out_cols)

        self._keyed_merge(
            delta, table, combine, create=False,
            partition_by=partition_by, partition_rows=partition_rows,
        )

    # -- SCD2: versioned dimension history (X122) ---------------------------
    def merge_scd2(
        self,
        updates: DataFrame,
        table: str,
        key: list[str],
        *,
        version: int,
        change_cols: list[str] | None = None,
    ) -> None:
        """Slowly-changing-dimension type-2 merge: instead of overwriting a
        matched row (merge_upsert) or patching fields in place
        (merge_update), every change CLOSES the current row
        (``valid_to = version``, ``is_current = false``) and inserts a new
        current one (``valid_from = version``) — the table keeps its full
        history and any past state reads back with :meth:`read_scd2_asof`.
        The CDC complement to the q105 snapshot diff: q105 computes what
        changed between two snapshots, this RETAINS what changed, forever.

        Determinism: ``version`` is a caller-supplied integer epoch (a
        batch/run id), never wall clock — replaying a merge with the same
        (updates, version) is a byte-identical no-op: change detection
        compares ``change_cols`` (default: every non-key, non-lineage
        column) value-by-value with NULL-safe equality, so the re-run
        finds nothing changed.  ``updates`` must be key-unique (raises
        ``ValueError`` otherwise — an SCD2 batch with two versions of one
        key has no defined order).

        Plan shape: one NULL-safe-equality join of the CURRENT slice
        against the batch, one union of [closed ∪ untouched-current ∪
        history ∪ inserts] written back via write-aside + swap.  The
        batch side of the join is never force-broadcast: AQE picks the
        broadcast from the measured batch size (the session's
        ``autoBroadcastJoinThreshold``), so a bounded micro-batch
        broadcasts and a large dimension backfill batch cannot OOM one
        (ADVICE r10 #2, the same hazard the fk dim=True gate in
        expectations.py avoids).  History rows ride through
        untouched; at 100 TB the history table partitions by
        ``valid_from`` range so the rewrite is recent-partition-scoped
        (the same upgrade path as the other merges — a transactional
        format's MERGE is the drop-in)."""
        lineage = ["valid_from", "valid_to", "is_current"]
        clash = [c for c in lineage if c in updates.columns]
        if clash:
            raise ValueError(
                f"SCD2 updates batch must not carry lineage columns {clash} — "
                "pass business columns only (did you feed a read() back in?)"
            )
        # key-uniqueness guard in ONE aggregate (groupBy existence check),
        # not count + distinct-count (two full scans — ADVICE r10 #2)
        if updates.groupBy(*key).count().filter(F.col("count") > 1).take(1):
            raise ValueError(f"SCD2 updates batch is not key-unique on {key}")
        stamped = updates.select(
            "*",
            F.lit(int(version)).cast("long").alias("valid_from"),
            F.lit(None).cast("long").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )

        def combine(target: DataFrame) -> DataFrame:
            cols = [c for c in target.columns if c not in lineage]
            ccols = change_cols or [c for c in cols if c not in key]
            cur = target.filter(F.col("is_current"))
            hist = target.filter(~F.col("is_current"))
            # __hit marks a key match regardless of update values (which
            # may legitimately be all NULL); NULL-safe equality per change
            # column decides changed-vs-unchanged.
            probe = updates.select(
                *key, *[F.col(c).alias(f"__u_{c}") for c in ccols]
            ).withColumn("__hit", F.lit(True))
            unchanged_pred = F.lit(True)
            for c in ccols:
                unchanged_pred = unchanged_pred & F.col(c).eqNullSafe(
                    F.col(f"__u_{c}")
                )
            j = cur.join(probe, key, "left")
            closed = j.filter(
                F.col("__hit").isNotNull() & ~unchanged_pred
            ).select(
                *[F.col(c) for c in cols],
                F.col("valid_from"),
                F.lit(int(version)).cast("long").alias("valid_to"),
                F.lit(False).alias("is_current"),
            )
            untouched = j.filter(
                F.col("__hit").isNull() | unchanged_pred
            ).select(*[F.col(c) for c in cols], *lineage)
            # inserts: every update key EXCEPT those whose current row is
            # unchanged (those merged to "untouched" above)
            changed_or_new = stamped.join(
                j.filter(F.col("__hit").isNotNull() & unchanged_pred).select(*key),
                key,
                "left_anti",
            )
            return (
                hist.select(*[F.col(c) for c in cols], *lineage)
                .unionByName(closed)
                .unionByName(untouched)
                .unionByName(changed_or_new.select(*[F.col(c) for c in cols], *lineage))
            )

        self._keyed_merge(stamped, table, combine, create=True)

    def read_scd2_asof(self, table: str, version: int) -> DataFrame:
        """The dimension as it stood at ``version``: rows whose validity
        interval covers it (``valid_from <= v < coalesce(valid_to, ∞)``).
        A pure filter — partition pruning on valid_from does the work when
        the table is range-partitioned."""
        v = int(version)
        return (
            self.read(table)
            .filter(
                (F.col("valid_from") <= v)
                & (F.col("valid_to").isNull() | (F.col("valid_to") > v))
            )
            .drop("valid_to", "is_current")
        )

    # -- K6: bucketed layout (co-located joins, shuffle-free at read time) ----
    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        key: list[str],
        *,
        buckets: int = 32,
    ) -> None:
        """Hash-bucketed, bucket-sorted table registered in the session
        catalog — the 100 TB replacement for the reference's B-tree indexes
        (K6, mongo_io_manager.py:46-51) on the JOIN side: two tables
        bucketed on the same key with the same bucket count sort-merge-join
        with NO exchange on either side, so the recurring big joins
        (articles ⋈ embeddings ⋈ related) pay their shuffle once at write
        time instead of per query.  Bucket pruning also serves point
        lookups (S6): an equality predicate on the key scans one bucket —
        but ONLY while the scan is actually bucketed: the
        ``spark.sql.sources.bucketing.autoBucketedScan.enabled`` heuristic
        silently demotes bucketed scans (and their pruning) when no
        join/agg would benefit, so pin it ``false`` for lookup workloads
        (plan-verified in tests/test_storage_jobs.py).

        Requires a catalog table (bucket metadata lives in the metastore),
        so this writes through ``saveAsTable`` with an explicit path under
        the warehouse root; read it back with :meth:`read_catalog`.

        Protocol caveat (review r12): ``saveAsTable(mode=overwrite)`` is
        Spark-managed — it does NOT go through this layer's write-aside +
        swap, so a crash mid-write can leave the previous version deleted
        (the committer's guarantee, not ours).  The writer lock is still
        taken so a concurrent mutator cannot interleave, and
        :meth:`compact`/:meth:`compaction_worklist` refuse/exclude
        bucketed layouts rather than silently un-bucketing them.
        """
        with self._writer_lock(table):
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(buckets, *key)
                .sortBy(*key)
                .option("path", self.path(table))
                .saveAsTable(table)
            )

    def read_catalog(self, table: str) -> DataFrame:
        """Read a catalog-registered (e.g. bucketed) table — bucket layout
        is only honored via the catalog, not a bare parquet path scan."""
        return self.spark.table(table)

    # -- training-shard export (dataset delivery) ------------------------------
    def write_training_shards(
        self,
        df: DataFrame,
        table: str,
        *,
        rows_per_shard: int,
    ) -> int:
        """Materialize a training dataset as uniformly-sized parquet shards
        — the delivery step after curation/packing (X38–X40): data-loader
        work units want even shards, not whatever file sizes the last
        shuffle produced.  One count job sizes the layout, a round-robin
        repartition evens the rows, and ``maxRecordsPerFile`` caps any
        shard the writer splits.  Follows the class write protocol (side
        write + rename swap): a failed write can't destroy a live table,
        and re-sharding a DataFrame derived from the same table never
        reads-while-overwriting.  Returns the shard count."""
        import math

        n = df.count()
        shards = max(1, math.ceil(n / rows_per_shard))
        with self._writer_lock(table):
            tmp = self.path(f".{table}.tmp-{uuid.uuid4().hex[:8]}")
            (
                df.repartition(shards)
                .write.mode("overwrite")
                .option("maxRecordsPerFile", rows_per_shard)
                .parquet(tmp)
            )
            self._swap_full(tmp, table)
        return shards

    # -- layout management: z-order clustering + small-file compaction --------
    def write_zorder(
        self,
        df: DataFrame,
        table: str,
        cols: list[str],
        *,
        bits: int = 8,
        files: int = 64,
    ) -> None:
        """Write ``df`` clustered by the z-order (Morton) interleave of
        ``cols`` — the multi-dimension locality layout whose per-file
        min-max envelopes stay narrow on EVERY clustered column, so
        file-skipping works for predicates on any of them (a single-column
        sort gives the second column full-domain envelopes in every file).
        q98_zorder_layout is the audit of exactly this layout.

        Mechanics: one global stats row (min/max per column, broadcast
        back) linearly bucketizes each column to ``bits`` bits; the
        bucket bits interleave into a z-value by pure integer arithmetic
        (functions/layout.py — engine-exact, re-runs produce byte-stable
        assignment); ``repartitionByRange(files, z)`` range-partitions on
        it (sampled range bounds — the one nondeterminism, confined to
        file SIZES, never file MEMBERSHIP semantics).  Columns must be
        integral (cast dates to day offsets first).  Follows the class
        write protocol: side write + atomic rename swap under the writer
        lock."""
        from briefly_spark.functions.layout import bucketize_sql, z_interleave_sql

        stats = df.agg(
            *[F.min(c).alias(f"__min_{c}") for c in cols],
            *[F.max(c).alias(f"__max_{c}") for c in cols],
        )
        buckets = [
            bucketize_sql(c, f"__min_{c}", f"__max_{c}", "spark", bits) for c in cols
        ]
        z = z_interleave_sql(buckets, "spark", bits)
        staged = (
            df.crossJoin(F.broadcast(stats))
            .withColumn("__z", F.expr(z))
            .repartitionByRange(files, F.col("__z"))
            .drop("__z", *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
        )
        with self._writer_lock(table):
            self._overwrite_locked(staged, table)

    def compact(self, table: str, *, target_rows_per_file: int) -> int:
        """Rewrite a table into ~evenly-sized files — the small-files
        repair a long-lived warehouse needs: every partition-scoped merge
        writes its own files, and at 100 TB a thousand incremental merges
        leave a table whose scan pays per-file open/footer cost far above
        its data cost.  One count sizes the layout, a round-robin
        repartition evens the rows (records, not bytes — the same unit
        write_training_shards uses), and the rewrite goes through the
        side-write + rename-swap protocol under the writer lock, so a
        crashed compaction never harms the live table and readers never
        see a half-compacted state.  A hive-partitioned table keeps its
        ``key=value`` layout: rows are co-located per partition key and
        rewritten through ``partitionBy`` (ADVICE r11 #2 — a flat rewrite
        silently broke the layout contract `_assert_partitioned_layout`
        guards, so the next partition-scoped merge refused the table).
        The partitioned rewrite reads with partition-value TYPE INFERENCE
        OFF: inference round-trips dir names through parsed values, so
        non-canonical strings ('00' and '0', '01' vs '1') would silently
        collapse/rename partitions on rewrite — values must come back as
        the exact on-disk strings for ``partitionBy`` to reproduce the
        dirs byte-for-byte.  Returns the new file count (flat) or the
        task count (partitioned)."""
        import math

        if self._is_bucketed(table):
            raise ValueError(
                f"table {table!r} is hash-bucketed (catalog bucket spec): "
                "a plain compaction would rewrite un-bucketed files under "
                "a catalog that still claims bucketed layout — silently "
                "wrong shuffle-free joins; re-write it with write_bucketed "
                "instead"
            )
        # the ENTIRE read→count→rewrite runs under the writer lock: a merge
        # landing between an unlocked read and the locked swap would either
        # fail the rewrite (files retired mid-scan) or be silently undone
        # by the stale swap (review r12 lost-update hazard)
        with self._writer_lock(table):
            parts = self.partition_layout(table)
            conf = "spark.sql.sources.partitionColumnTypeInference.enabled"
            old = self.spark.conf.get(conf, "true")
            if parts:
                self.spark.conf.set(conf, "false")
            try:
                # Conf-sensitive read: BYPASS the read memo (ADVICE r15 #1).
                # A memoized frame from an earlier same-version read was
                # built with inference ON — its parsed partition values
                # would be rewritten through partitionBy below, silently
                # collapsing non-canonical dirs ('00'→'0'), the exact
                # corruption inference-off exists to prevent.  Reading
                # directly also keeps the inference-off frame OUT of the
                # memo, so later plain reads never see string-typed
                # partition columns.  The writer lock already ran
                # _recover, as read() would.
                df = self.spark.read.parquet(self.path(table))
                n = df.count()
                n_files = max(1, math.ceil(n / target_rows_per_file))
                tmp = self.path(f".{table}.tmp-{uuid.uuid4().hex[:8]}")
                staged = (
                    df.repartition(n_files, *parts) if parts
                    else df.repartition(n_files)
                )
                writer = (
                    staged.write.mode("overwrite")
                    .option("maxRecordsPerFile", target_rows_per_file)
                )
                if parts:
                    writer = writer.partitionBy(*parts)
                writer.parquet(tmp)
                self._swap_full(tmp, table)
            finally:
                if parts:
                    self.spark.conf.set(conf, old)
        return n_files

    def _is_bucketed(self, table: str) -> bool:
        """Heuristic, session-independent bucket detection: Spark's
        bucketed writers name data files ``part-NNNNN-<uuid>_<bucket>.c000
        ...`` — the ``_NNNNN.cNNN`` suffix never appears on plain writes,
        so its presence marks a table whose layout the catalog owns."""
        import re as _re

        pat = _re.compile(r"_\d{5}\.c\d{3}")
        return any(pat.search(os.path.basename(f)) for f, _ in self.table_files(table))

    def partition_layout(self, table: str) -> list[str]:
        """The hive ``key=value`` partition-column chain of a table's
        on-disk layout, outermost first; ``[]`` for flat tables.
        Metadata-sized (directory listing), no data pass.  Walks EVERY
        branch per level (not one sample child — a single empty or
        shallow subtree must not truncate the detected chain and flatten
        deeper levels on the next compact) and refuses mixed layouts:
        data files sitting next to ``key=`` dirs at the same level."""
        cols: list[str] = []
        frontier = [self.path(table)]
        while frontier:
            subs: list[str] = []
            keys: set[str] = set()
            for cur in frontier:
                entries = os.listdir(cur)
                here = [
                    d for d in entries
                    if "=" in d and not d.startswith(".")
                    and os.path.isdir(os.path.join(cur, d))
                ]
                if here and any(f.endswith(".parquet") for f in entries):
                    raise ValueError(
                        f"table {table!r}: data files next to partition "
                        f"dirs under {cur!r} — mixed layout"
                    )
                subs += [os.path.join(cur, d) for d in here]
                keys |= {d.split("=", 1)[0] for d in here}
            if not subs:
                return cols
            if len(keys) != 1:
                raise ValueError(
                    f"table {table!r}: mixed partition keys {sorted(keys)} "
                    f"at one level — not a hive layout"
                )
            cols.append(keys.pop())
            frontier = subs
        return cols

    def table_rows(self, table: str) -> int:
        """Exact row count straight from the parquet footers — driver-side
        metadata I/O, NO Spark job (catalog.table_rows' discipline applied
        to warehouse tables).  A raw-scan ``df.count()`` prunes to the same
        footer metadata but still schedules a job (~0.3 s of scheduling
        latency per call in the drain loop); this is microseconds of file
        I/O.  Only valid for a TABLE's own files — derived frames must
        still count."""
        import pyarrow.parquet as pq

        self._recover(table)
        root = self.path(table)
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for f, _ in self.table_files(table)
        )

    def table_files(self, table: str) -> list[tuple[str, int]]:
        """(relative path, bytes) of every data file in a table —
        metadata-sized driver work (a directory listing; the same
        information a transactional format's manifest carries)."""
        root = self.path(table)
        out: list[tuple[str, int]] = []
        for dirpath, dirs, files in os.walk(root):
            # in-flight/crashed .swap-* staging dirs hold duplicate copies
            # of live partitions — counting them would double-book bytes
            # and spuriously schedule compactions (review r12)
            dirs[:] = [d for d in dirs if not d.startswith(".")]
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    out.append((os.path.relpath(p, root), os.path.getsize(p)))
        return sorted(out)

    def layout_report(self, *, small_file_bytes: int = 8 << 20) -> DataFrame:
        """Per-table file-layout audit (X140) — the LAYOUT complement to
        the data-quality audits (X124 profiles the values, this profiles
        the files): n_files, total/min/max bytes, and the small-file
        count under ``small_file_bytes``.  A thousand incremental merges
        leave tables whose scan pays per-file open/footer cost far above
        their data cost — this report is what decides when
        :meth:`compact` runs.  Driver work is metadata-sized (one
        listing per table); the report frame is tables-bounded."""
        rows = []
        for t in sorted(self.tables()):
            files = self.table_files(t)
            if not files:
                continue
            sizes = [b for _, b in files]
            rows.append((
                t,
                len(sizes),
                int(sum(sizes)),
                int(min(sizes)),
                int(max(sizes)),
                sum(1 for b in sizes if b < small_file_bytes),
            ))
        return self.spark.createDataFrame(
            rows,
            schema="table STRING, n_files BIGINT, total_bytes BIGINT, "
                   "min_bytes BIGINT, max_bytes BIGINT, n_small BIGINT",
        )

    def compaction_worklist(
        self,
        *,
        small_file_bytes: int = 8 << 20,
        min_small_frac: float = 0.5,
        min_files: int = 4,
    ) -> list[str]:
        """Tables that need :meth:`compact`: at least ``min_files`` data
        files AND more than ``min_small_frac`` of them under the
        small-file threshold.  The maintenance loop runs this after its
        merge phase and compacts the returned tables — the registry
        compactors' table-level sibling."""
        out = []
        for r in self.layout_report(small_file_bytes=small_file_bytes).collect():
            if r["n_files"] >= min_files and r["n_small"] > min_small_frac * r["n_files"]:
                # bucketed tables are catalog-owned layouts compact() would
                # silently un-bucket — excluded here AND refused there
                if not self._is_bucketed(r["table"]):
                    out.append(r["table"])
        return sorted(out)

    # -- K4: bronze snapshot (partitioned append-style JSON/parquet) ----------
    def write_bronze(self, df: DataFrame, table: str, run_id: str) -> str:
        """Raw snapshot under ``bronze/{table}/run_id={run_id}/`` — the S3
        ``raw_data/{source}/{run_id}/...`` layout (s3_io_manager.py:24-47)
        with partition directories instead of pickled objects."""
        path = os.path.join(self.root, self.BRONZE_DIR, table, f"run_id={run_id}")
        df.write.mode("overwrite").parquet(path)
        return path
