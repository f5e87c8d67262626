"""Snapshot-versioned parquet tables (checkpoint/resume layer) with
Iceberg-shaped MERGE INTO and concurrent-writer-safe commits.

Production target is Iceberg (`MERGE INTO` frontier, fast-append seen,
snapshot-per-round time travel); the Iceberg runtime jars are not in this
container, so this module provides the same contract on plain parquet:

* one directory per table per round: ``{root}/{table}/r{round:05d}/``,
* atomic data publish: data lands in a ``_tmp`` directory, then a single
  ``os.rename`` publishes it (rename is atomic on POSIX),
* atomic commit with OPTIMISTIC CONCURRENCY: committing round N first
  claims ``rounds/r{N}.commit`` with ``O_CREAT|O_EXCL`` — the filesystem
  arbitrates exactly one winner, the loser gets
  :class:`ConcurrentCommitError` (the Iceberg catalog-pointer CAS, on
  POSIX). Only then are the round record and the manifest published, each
  via write-tmp + ``os.replace``. A crash between marker and manifest
  leaves the previous round committed; :meth:`recover_incomplete` (called
  on resume) reclaims such orphaned markers,
* a JSON manifest (``_manifest.json``) recording the last committed round
  and counters, written last — resume = read every table at the manifest's
  round (bit-identical, tested),
* :meth:`merge_into` — the ``MERGE INTO frontier USING new_rows ON url
  WHEN MATCHED THEN DELETE / WHEN NOT MATCHED THEN INSERT`` shape the
  north rule names, emulated as anti-join + union over the snapshot and
  published as the next round's snapshot.

Call sites use only this API (the ``TableProvider`` surface), so swapping
in real Iceberg is a one-module change: ``merge_into`` becomes the SQL
MERGE, ``commit_round`` becomes the catalog commit (reference checkpoint
artifacts modeled: the ``cache/*.pkl`` run snapshots, SURVEY §1.4).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ConcurrentCommitError(RuntimeError):
    """Another writer already committed this round (optimistic-concurrency
    loser). Re-read the manifest and rebase, exactly like an Iceberg
    CommitFailedException."""


class SnapshotStore:
    """The parquet implementation of the table-provider contract.

    With ``writer_id`` set, the store supports COOPERATIVE MULTI-WRITER
    rounds: every data dir and snapshot file-list this writer produces is
    staged under a writer-scoped name, invisible to other readers, until
    :meth:`commit_round` wins the marker claim and atomically promotes the
    staged file-lists to the shared names (the data dirs stay where they
    are — the file-list indirection makes promotion a metadata-only
    ``os.replace`` per table, the Iceberg manifest-swap shape). A loser
    calls :meth:`abort_round` to delete its staged artifacts (no orphaned
    snapshot dirs), re-reads the manifest, and rebases.
    """

    def __init__(self, root: str, writer_id: str | None = None) -> None:
        self.root = root
        self.writer_id = writer_id
        self._staged: dict[int, set[str]] = {}  # round -> staged tables
        os.makedirs(root, exist_ok=True)
        if writer_id is not None:
            self._sweep_stale_staged()

    def _sweep_stale_staged(self) -> None:
        """A writer that crashed mid-round leaves staged file-lists (and
        writer-scoped data dirs) on disk. Reopening with the SAME
        writer_id must not resurrect them — ``_snapshot_dirs`` prefers a
        staged list over a peer's committed snapshot, which would read
        uncommitted data and bake it into future append lineage. On open:
        delete this writer's staged file-lists, and any data dirs they
        reference that no OTHER file-list (committed or another writer's
        staged) references.

        Only dirs THIS writer created are deletion candidates: a staged
        append file-list also references its parent snapshot's dirs, and
        legacy full-rewrite rounds (pre file-list) have no .files.json
        protecting them — deleting everything the staged lists mention
        would rmtree committed data. Writer-created dirs are exactly the
        ones whose basename carries the ``.{writer_id}`` suffix
        (:meth:`_table_dir`)."""
        suffix = f".{self.writer_id}.files.json"
        dir_suffix = f".{self.writer_id}"
        for table in os.listdir(self.root):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            names = os.listdir(tdir)
            stale = [n for n in names if n.endswith(suffix)]
            if not stale:
                continue
            doomed: set[str] = set()
            for n in stale:
                try:
                    dirs = self._load_snapshot_payload(
                        os.path.join(tdir, n))["dirs"]
                    doomed |= {d for d in dirs
                               if os.path.basename(d.rstrip("/"))
                               .endswith(dir_suffix)}
                except (OSError, ValueError):
                    pass
                os.remove(os.path.join(tdir, n))
            referenced: set[str] = set()
            for n in os.listdir(tdir):
                if n.endswith(".files.json"):
                    try:
                        referenced |= set(self._load_snapshot_payload(
                            os.path.join(tdir, n))["dirs"])
                    except (OSError, ValueError):
                        pass
            for d in doomed - referenced:
                shutil.rmtree(d, ignore_errors=True)

    def await_round(self, round_id: int, timeout: float = 10.0,
                    poll: float = 0.05) -> int | None:
        """Wait for the manifest to reach ``round_id`` — a live peer that
        claimed the round's marker publishes the manifest within
        milliseconds, so a loser must not read the manifest in that
        window and conclude nothing was committed. Returns the committed
        round (>= round_id), or None if the deadline passes: the marker
        holder is dead (an orphaned marker from a crashed run), not a
        live peer."""
        deadline = time.monotonic() + timeout
        while True:
            m = self.manifest()
            if m is not None and m["round"] >= round_id:
                return m["round"]
            if time.monotonic() >= deadline:
                return None
            time.sleep(poll)

    # -- manifest -------------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_manifest.json")

    def manifest(self) -> dict | None:
        try:
            with open(self._manifest_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _round_marker(self, round_id: int) -> str:
        return os.path.join(self.root, "rounds", f"r{round_id:05d}.commit")

    def commit_round(self, round_id: int, counters: dict) -> None:
        """Publish ``round_id`` as the committed state. Exactly one writer
        can commit a given round: the ``O_CREAT|O_EXCL`` marker claim is
        the atomic arbiter; losers raise :class:`ConcurrentCommitError`
        without touching the manifest."""
        payload = {"round": round_id, "counters": counters}
        hist_dir = os.path.join(self.root, "rounds")
        os.makedirs(hist_dir, exist_ok=True)
        try:
            fd = os.open(self._round_marker(round_id),
                         os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            os.close(fd)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"round {round_id} already committed (or mid-commit) by "
                f"another writer; re-read the manifest and rebase") from None
        # marker won: promote this writer's staged snapshot file-lists to
        # the shared names (metadata-only os.replace per table — the data
        # dirs stay put, the file-list indirection points readers at them)
        for table in sorted(self._staged.pop(round_id, set())):
            os.replace(self._staged_snap_path(table, round_id),
                       self._snap_path(table, round_id))
        with open(os.path.join(hist_dir, f"r{round_id:05d}.json"), "w") as f:
            json.dump(payload, f, indent=1)
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def recover_incomplete(self) -> list[int]:
        """Reclaim commit markers beyond the committed manifest round — a
        writer died between marker claim and manifest publish. Call when
        (re)opening the store as the single resuming writer; returns the
        reclaimed round ids."""
        m = self.manifest()
        committed = -1 if m is None else m["round"]
        hist_dir = os.path.join(self.root, "rounds")
        reclaimed = []
        if os.path.isdir(hist_dir):
            for name in os.listdir(hist_dir):
                if name.endswith(".commit"):
                    # f'{round:05d}' widens past 99999 — parse the full
                    # digit run, never a fixed 5-char slice
                    r = int(name.removeprefix("r").split(".")[0])
                    if r > committed:
                        os.remove(os.path.join(hist_dir, name))
                        reclaimed.append(r)
        return sorted(reclaimed)

    def reset(self) -> None:
        """Clear commit metadata (manifest + round records/markers) for a
        fresh run over an existing root. Table data dirs are left in place
        — each round's write overwrites its own dir, and unreferenced dirs
        are garbage exactly as after a rollback."""
        shutil.rmtree(os.path.join(self.root, "rounds"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "writers"),
                      ignore_errors=True)
        try:
            os.remove(self._manifest_path)
        except FileNotFoundError:
            pass

    # -- cooperative-writer registry ---------------------------------------
    def register_writer(self, writer_id: str | None = None) -> None:
        """Record a cooperative writer in the shared registry (one marker
        file per id — no read-modify-write contention). The registry
        divides the politeness budget: each of n registered writers
        schedules at ``rps/n`` so the COMBINED per-host request rate stays
        within the budget a single writer honors (r4 verdict #3 — without
        this, two writers redundantly fetching the same round double every
        host's load). Registration is persistent: a crashed writer stays
        counted (its rejoining self re-registers idempotently), keeping
        the combined rate conservative — never above budget."""
        wid = writer_id or self.writer_id
        d = os.path.join(self.root, "writers")
        os.makedirs(d, exist_ok=True)
        open(os.path.join(d, f"{wid}.writer"), "w").close()

    def registered_writers(self) -> list[str]:
        try:
            return sorted(n[:-len(".writer")]
                          for n in os.listdir(os.path.join(self.root,
                                                           "writers"))
                          if n.endswith(".writer"))
        except FileNotFoundError:
            return []

    def rollback(self, round_id: int) -> None:
        """Reset the committed state to ``round_id`` (crash simulation /
        manual recovery): later snapshot dirs become unreferenced garbage,
        exactly as after a crash between data write and manifest publish."""
        with open(os.path.join(self.root, "rounds",
                               f"r{round_id:05d}.json")) as f:
            payload = json.load(f)
        # later rounds' markers must be reclaimable by the resumed run
        hist_dir = os.path.join(self.root, "rounds")
        for name in os.listdir(hist_dir):
            if (name.endswith(".commit")
                    and int(name.removeprefix("r").split(".")[0]) > round_id):
                os.remove(os.path.join(hist_dir, name))
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(payload, f, indent=1)
        os.replace(tmp, self._manifest_path)

    # -- table snapshots ---------------------------------------------------
    def _table_dir(self, table: str, round_id: int) -> str:
        suffix = f".{self.writer_id}" if self.writer_id else ""
        return os.path.join(self.root, table, f"r{round_id:05d}{suffix}")

    def _snap_path(self, table: str, round_id: int) -> str:
        """SHARED (committed-visible) snapshot file-list path."""
        return os.path.join(self.root, table,
                            f"r{round_id:05d}.files.json")

    def _staged_snap_path(self, table: str, round_id: int) -> str:
        return os.path.join(
            self.root, table,
            f"r{round_id:05d}.{self.writer_id}.files.json")

    def has_table(self, table: str, round_id: int) -> bool:
        """True if ``round_id`` has a snapshot of ``table`` (a published
        file-list — shared or this writer's staged — or a legacy round
        dir). Lets callers distinguish 'never written' from 'written but
        unreadable': the latter must surface, not silently degrade."""
        if self.writer_id is not None and os.path.exists(
                self._staged_snap_path(table, round_id)):
            return True
        return (os.path.exists(self._snap_path(table, round_id))
                or os.path.isdir(os.path.join(self.root, table,
                                              f"r{round_id:05d}")))

    @staticmethod
    def _load_snapshot_payload(path: str) -> dict:
        """File-list payloads are a plain dir list (legacy) or a dict
        ``{"dirs": [...], "delta": [...]}`` — the delta records which of
        the dirs are THIS round's appended data, so the round's
        incremental contribution stays recoverable after a compaction
        rewrites the cumulative dir list (set-difference against the
        parent's dirs stops working across that boundary)."""
        with open(path) as f:
            payload = json.load(f)
        if isinstance(payload, list):
            return {"dirs": payload, "delta": None}
        return payload

    def _snapshot_payload(self, table: str, round_id: int) -> dict:
        """Payload for a snapshot: this writer's staged file-list if one
        exists (uncommitted reads-own-writes), else the shared (committed)
        file-list, else the legacy unscoped round dir (full-rewrite
        snapshots from before append/staging support)."""
        if self.writer_id is not None:
            try:
                return self._load_snapshot_payload(
                    self._staged_snap_path(table, round_id))
            except FileNotFoundError:
                pass
        try:
            return self._load_snapshot_payload(
                self._snap_path(table, round_id))
        except FileNotFoundError:
            return {"dirs": [os.path.join(self.root, table,
                                          f"r{round_id:05d}")],
                    "delta": None}

    def _snapshot_dirs(self, table: str, round_id: int) -> list[str]:
        return self._snapshot_payload(table, round_id)["dirs"]

    def snapshot_delta(self, table: str, round_id: int) -> list[str] | None:
        """The data dirs appended BY ``round_id`` itself (None for
        snapshots that predate delta recording — callers fall back to the
        set difference against the parent's dirs)."""
        return self._snapshot_payload(table, round_id)["delta"]

    def _publish_snapshot(self, table: str, round_id: int,
                          dirs: list[str],
                          delta: list[str] | None = None) -> None:
        """Writer-scoped stores stage the file-list; anonymous stores
        publish it shared immediately (single-writer fast path)."""
        if self.writer_id is not None:
            path = self._staged_snap_path(table, round_id)
            self._staged.setdefault(round_id, set()).add(table)
        else:
            path = self._snap_path(table, round_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(dirs if delta is None
                      else {"dirs": dirs, "delta": delta}, f)
        os.replace(tmp, path)

    def _write_delta(self, table: str, df: DataFrame, round_id: int) -> str:
        final = self._table_dir(table, round_id)
        tmp = final + "_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(final, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp)
        os.rename(tmp, final)
        return final

    def write(self, table: str, df: DataFrame, round_id: int) -> None:
        final = self._write_delta(table, df, round_id)
        self._publish_snapshot(table, round_id, [final])

    def abort_round(self, round_id: int) -> None:
        """Drop this writer's staged artifacts for a lost round: staged
        file-lists and writer-scoped data dirs. Leaves committed (shared)
        state untouched; no orphaned snapshot dirs remain."""
        for table in self._staged.pop(round_id, set()):
            try:
                os.remove(self._staged_snap_path(table, round_id))
            except FileNotFoundError:
                pass
            shutil.rmtree(self._table_dir(table, round_id),
                          ignore_errors=True)

    def append(self, table: str, df: DataFrame, round_id: int,
               parent_round: int | None = None) -> None:
        """Iceberg FAST-APPEND: write ONLY ``df`` as this round's data dir
        and publish a snapshot referencing the parent snapshot's dirs plus
        the new one — O(batch) IO per append, never O(table). The shape a
        monotonically growing table (the crawl's seen set, a persisted
        dedup signature index at 100 TB) requires: :meth:`write` /
        :meth:`merge_into` rewrite the whole table per round, which is
        correct for working-set-sized state (the frontier) and a
        scale-killer for an index."""
        parent_dirs: list[str] = []
        if parent_round is not None:
            parent_dirs = [d for d in self._snapshot_dirs(table, parent_round)
                           if os.path.isdir(d)]
        delta = self._write_delta(table, df, round_id)
        self._publish_snapshot(table, round_id, parent_dirs + [delta],
                               delta=[delta])

    def compact(self, spark: SparkSession, table: str,
                round_id: int | None = None) -> list[str]:
        """Snapshot-manifest COMPACTION (Iceberg rewrite_data_files /
        manifest-rewrite analog, r4 verdict #4): fast-append rounds
        accumulate one data dir per round, so reading the index at round
        N lists O(N) dirs — at 10^4 ingest rounds the scan file-list and
        every subsequent round's payload are O(rounds). Compaction
        rewrites the snapshot's non-delta dirs into ONE consolidated base
        dir and republishes the round's file-list as
        ``[base] + delta`` — subsequent appends chain off the short list,
        so reads between compactions list O(rounds-since-compaction)
        dirs.

        Crash-safe and concurrent-reader-safe: the base lands via
        write-tmp + rename, the file-list swap is the usual tmp +
        ``os.replace``, and the superseded per-round dirs are NOT deleted
        — historical rounds' file-lists still reference them (time travel
        and :meth:`~...incremental._IncrementalIndex.replay_pairs` for
        pre-compaction rounds keep working), and any in-flight reader
        holding the old list still finds its files. The round's OWN delta
        dirs stay out of the base, so its delta record survives verbatim.
        Cost: one read+write of the table — amortize by compacting every
        K appends (``_IncrementalIndex.compact_every``). Returns the new
        dir list."""
        if round_id is None:
            round_id = self.manifest()["round"]
        # compaction operates on COMMITTED state only — never a staged
        # (uncommitted) list, whatever this store's writer_id
        try:
            payload = self._load_snapshot_payload(
                self._snap_path(table, round_id))
        except FileNotFoundError:
            return []  # nothing committed for this round/table
        delta = payload["delta"] or []
        base_src = [d for d in payload["dirs"] if d not in set(delta)
                    and os.path.isdir(d)]
        if len(base_src) <= 1:
            return payload["dirs"]  # already compact
        tdir = os.path.join(self.root, table)
        gen = len([n for n in os.listdir(tdir) if ".compact" in n])
        suffix = f".{self.writer_id}" if self.writer_id else ""
        base = os.path.join(tdir, f"r{round_id:05d}.compact{gen}{suffix}")
        tmp = base + "_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        spark.read.parquet(*base_src).write.mode("overwrite").parquet(tmp)
        os.rename(tmp, base)
        dirs = [base] + [d for d in payload["dirs"] if d in set(delta)]
        # compaction rewrites COMMITTED state: publish to the shared
        # file-list directly (never staged — there is no commit race to
        # arbitrate, the logical content is unchanged; concurrent
        # compactors last-write-win equivalent lists)
        path = self._snap_path(table, round_id)
        ltmp = path + ".tmp"
        with open(ltmp, "w") as f:
            json.dump({"dirs": dirs, "delta": payload["delta"]}, f)
        os.replace(ltmp, path)
        return dirs

    def expire_snapshots(self, table: str, before_round: int) -> list[str]:
        """Iceberg expire_snapshots analog: drop the file-lists of rounds
        < ``before_round`` and delete data dirs no REMAINING file-list
        references. Time travel and replay below the horizon are gone by
        definition; the current snapshot (and any staged state) is never
        touched because its file-list still references its dirs. Returns
        the deleted dirs. Run it after :meth:`compact` — superseded
        per-round delta dirs become unreferenced once the historical
        lists that pointed at them expire.

        ``before_round`` is CLAMPED to the committed round: an
        off-by-one caller (``manifest_round + 1``) must never remove the
        current snapshot's file-list — without the clamp the second loop
        would then rmtree the live data dirs it referenced."""
        m = self.manifest()
        if m is not None:
            before_round = min(before_round, m["round"])
        tdir = os.path.join(self.root, table)
        if not os.path.isdir(tdir):
            return []
        for n in os.listdir(tdir):
            if not n.endswith(".files.json"):
                continue
            try:
                rid = int(n.removeprefix("r").split(".")[0])
            except ValueError:
                continue
            if rid < before_round:
                os.remove(os.path.join(tdir, n))
        referenced: set[str] = set()
        for n in os.listdir(tdir):
            if n.endswith(".files.json"):
                try:
                    referenced |= {
                        os.path.basename(d.rstrip("/"))
                        for d in self._load_snapshot_payload(
                            os.path.join(tdir, n))["dirs"]}
                except (OSError, ValueError):
                    pass
        deleted = []
        for n in os.listdir(tdir):
            full = os.path.join(tdir, n)
            if (os.path.isdir(full) and n not in referenced
                    and not n.endswith("_tmp")):
                # legacy (pre-file-list) rounds have no list; only delete
                # dirs for rounds below the horizon
                try:
                    rid = int(n.removeprefix("r").split(".")[0]
                              .split("_")[0])
                except ValueError:
                    continue
                if rid < before_round:
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(full)
        return deleted

    def read(self, spark: SparkSession, table: str, round_id: int) -> DataFrame:
        return spark.read.parquet(*self._snapshot_dirs(table, round_id))

    def read_latest(self, spark: SparkSession, table: str) -> DataFrame | None:
        m = self.manifest()
        if m is None:
            return None
        return self.read(spark, table, m["round"])

    # -- MERGE INTO (Iceberg shape) ------------------------------------------
    def merge_into(self, spark: SparkSession, table: str, source: DataFrame,
                   on: str = "url", round_id: int | None = None, *,
                   target: DataFrame | None = None,
                   delete_keys: DataFrame | None = None,
                   assume_disjoint: bool = False) -> DataFrame:
        """``MERGE INTO table USING source ON table.on = source.on
        WHEN MATCHED (delete_keys) THEN DELETE
        WHEN NOT MATCHED THEN INSERT *`` — the north rule's frontier merge.

        ``target`` defaults to the latest committed snapshot (None = empty:
        the merge degenerates to an insert). The engine passes its
        checkpointed in-memory frontier instead, avoiding a re-read of
        state it already holds — the provider stays the single publish
        path. ``delete_keys`` models WHEN MATCHED THEN DELETE (the dequeued
        batch leaving the frontier). ``assume_disjoint=True`` skips the
        not-matched anti-join when the caller guarantees source keys are
        absent from the target (the engine's candidates are already pruned
        against the seen superset — an invariant the oracle-differential
        tests cover); the default performs the full merge semantics.

        With ``round_id`` the result is published as that round's snapshot
        and the returned DataFrame reads back from the written files —
        lineage cut by storage, the Iceberg behavior. Without it the lazy
        merged plan is returned (dry merge).
        """
        if target is None:
            target = self.read_latest(spark, table)
        remaining = target
        if target is not None and delete_keys is not None:
            remaining = target.join(F.broadcast(delete_keys.select(on)),
                                    on, "left_anti")
        if remaining is None:
            merged = source
        else:
            incoming = (source if assume_disjoint
                        else source.join(remaining.select(on), on,
                                         "left_anti"))
            merged = remaining.unionByName(incoming)
        if round_id is not None:
            self.write(table, merged, round_id)
            return self.read(spark, table, round_id)
        return merged


# The provider contract call sites depend on (duck-typed; SnapshotStore is
# the parquet impl, a real Iceberg provider would implement the same names
# over catalog + MERGE INTO SQL):
#   manifest() / commit_round(round, counters) / recover_incomplete()
#   reset() / rollback(round)
#   write(table, df, round) / read(spark, table, round)
#   read_latest(spark, table) / merge_into(spark, table, source, ...)
TableProvider = SnapshotStore
