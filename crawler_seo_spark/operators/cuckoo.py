"""Sharded cuckoo filter for the URL-seen set — the deletable alternative
to :mod:`crawler_seo_spark.operators.bloom`, with the same file-backed
shard state (ZERO filter bytes resident on the driver).

Why a cuckoo filter at all: recrawl. The Bloom filter cannot forget — once
a URL is seen it is seen forever, so a content-change-driven refresh
(operators/recrawl.py) must bypass the filter entirely. A cuckoo filter
supports DELETE: invalidating a changed URL removes its fingerprint, and
the URL flows through the normal admission path again on the next round.

Construction (standard public design — Fan, Andersen, Kaminsky, Mitzenmacher,
"Cuckoo Filter: Practically Better Than Bloom", CoNEXT 2014):

* per-URL: 16-bit fingerprint ``fp = (h2 mod 65535) + 1`` (0 = empty slot)
  and two candidate buckets ``i1 = index-bits of h1``,
  ``i2 = i1 XOR scramble(fp)`` — the XOR makes the pair order-free, so
  lookup/delete need only the stored fp and either index;
* buckets hold 4 slots; inserts kick occupants (bounded random walk, seeded
  per (shard, version) — deterministic regardless of task placement); the
  rare max-kick overflow goes to a per-shard stash so a full table degrades
  to a slightly slower exact check, never to a FALSE NEGATIVE (exactness of
  the prune is unconditional, same argument as the Bloom prune: false
  positives only cost an extra anti-join probe);
* the table is SHARDED by the same signed-pmod rule as the Bloom filter
  (build/probe parity — see bloom.py's round-2 regression note); hashing is
  JVM-side ``xxhash64``;
* shard state (table + stash) lives in versioned files
  (operators/shardstate.py): inserts and deletes are applied by the ONE
  task that owns each shard's hash group — it loads the current version,
  mutates, and atomically publishes the next. The driver collects only
  per-shard accounting ints (n, removed, occupancy, stash size) and keeps
  the O(n_shards) version vector. Probes load shards worker-side through
  the per-process cache, so per round each worker re-reads only the shards
  whose version changed — the bounded-traffic lifecycle of round 2, with
  the residency fixed.

Defaults: 32 shards × 32768 buckets × 4 × 2 B = 8 MiB ≈ 4M URLs at ≤95%
load; scale ``buckets_per_shard``/``n_shards`` for the 10^10 design point —
state grows in the object store, never on the driver.
"""

from __future__ import annotations

import atexit
import io
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .shardstate import ShardMeta

_SEED_INDEX = 0xC0C0_1001
_SEED_FP = 0xC0C0_2002
_SCRAMBLE = np.uint64(0x5BD1E995)


def _pack(table: np.ndarray, stash: set[tuple[int, int]]) -> bytes:
    """Shard payload: npz of the slot table + stash pairs (no pickle)."""
    bio = io.BytesIO()
    stash_arr = (np.array(sorted(stash), dtype=np.int64)
                 if stash else np.zeros((0, 2), dtype=np.int64))
    np.savez(bio, table=table, stash=stash_arr)
    return bio.getvalue()


def _unpack(data: bytes | None, buckets: int, slots: int):
    if data is None:
        return np.zeros((buckets, slots), dtype=np.uint16), set()
    z = np.load(io.BytesIO(data))
    stash = {(int(a), int(b)) for a, b in z["stash"]}
    return z["table"].copy(), stash


def _insert_into(table: np.ndarray, stash: set, fp: int, i1: int, i2: int,
                 buckets: int, slots: int, max_kicks: int, rng) -> None:
    """Standard cuckoo insert with bounded kicks + overflow stash."""
    for idx in (i1, i2):
        row = table[idx]
        free = np.flatnonzero(row == 0)
        if free.size:
            row[free[0]] = fp
            return
    idx, cur = i1, fp
    mask = buckets - 1
    for _ in range(max_kicks):
        slot = int(rng.integers(slots))
        cur, table[idx][slot] = int(table[idx][slot]), cur
        idx = idx ^ (int(np.uint64(cur) * _SCRAMBLE) & mask)
        row = table[idx]
        free = np.flatnonzero(row == 0)
        if free.size:
            row[free[0]] = cur
            return
    stash.add((cur, idx))  # overflow: exactness preserved


class ShardedCuckoo:
    """File-backed shard tables + Spark-side hash/mutate/probe plans."""

    def __init__(self, n_shards: int = 32, buckets_per_shard: int = 1 << 15,
                 slots: int = 4, max_kicks: int = 500, seed: int = 42,
                 state_dir: str | None = None) -> None:
        assert buckets_per_shard & (buckets_per_shard - 1) == 0, \
            "buckets_per_shard must be a power of two (index arithmetic)"
        self.n_shards = n_shards
        self.buckets = buckets_per_shard
        self.slots = slots
        self.max_kicks = max_kicks
        self.seed = seed
        if state_dir is None:
            state_dir = tempfile.mkdtemp(prefix="cuckoo-state-")
            atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
        self.meta = ShardMeta(state_dir, n_shards)
        c = self.meta.counters
        self.n_inserted = int(c.get("n_inserted", 0))
        self.n_deleted = int(c.get("n_deleted", 0))
        self._occupied = list(c.get("occupied", [0] * n_shards))
        self._stash_n = list(c.get("stash_n", [0] * n_shards))
        self._dirty: set[int] = set()
        self.last_rebroadcast_bytes = 0
        self.total_rebroadcast_bytes = 0

    @property
    def state_dir(self) -> str:
        return self.meta.state_dir

    @property
    def shard_nbytes(self) -> int:
        return self.buckets * self.slots * 2  # uint16 slot table

    def reset(self) -> None:
        """Drop all filter state (fresh run over a stale state dir). Starts
        a new ShardMeta epoch so worker caches can't serve old bytes."""
        self.meta.reset()
        self.n_inserted = self.n_deleted = 0
        self._occupied = [0] * self.n_shards
        self._stash_n = [0] * self.n_shards
        self._dirty.clear()
        self.last_rebroadcast_bytes = 0

    # -- hash columns (JVM-side) -------------------------------------------
    @staticmethod
    def with_hashes(df: DataFrame, url_col: str = "url") -> DataFrame:
        return (df.withColumn("_ch1",
                              F.xxhash64(F.col(url_col), F.lit(_SEED_INDEX)))
                  .withColumn("_ch2",
                              F.xxhash64(F.col(url_col), F.lit(_SEED_FP))))

    def shard_of(self, h1: np.ndarray) -> np.ndarray:
        """== Spark pmod (signed) — same routing rule as the Bloom shards."""
        return np.mod(h1.astype(np.int64), self.n_shards)

    def _fp_i1_i2(self, h1: np.ndarray, h2: np.ndarray):
        fp = ((h2.astype(np.uint64) % np.uint64(65535)) + np.uint64(1)) \
            .astype(np.uint16)
        mask = np.uint64(self.buckets - 1)
        i1 = ((h1.astype(np.uint64) >> np.uint64(8)) & mask).astype(np.int64)
        alt = ((fp.astype(np.uint64) * _SCRAMBLE) & mask).astype(np.int64)
        i2 = i1 ^ alt
        return fp, i1, i2

    # -- mutate (in the shard-owning tasks) ----------------------------------
    def _mutate(self, df: DataFrame, url_col: str, op: str) -> list:
        """Route urls to their shard groups and run ``op`` (insert|delete)
        in the owning task against the shard file; collect accounting rows
        only. Group rows are sorted by (h1, h2) so the mutation sequence —
        hence kick pattern and table layout — is deterministic regardless
        of shuffle arrival order; the kick rng is seeded per
        (seed, shard, next version)."""
        hashed = (self.with_hashes(df.select(url_col), url_col)
                  .withColumn("_shard",
                              F.pmod(F.col("_ch1"),
                                     F.lit(self.n_shards)).cast("int")))
        sd, vers = self.state_dir, self.meta.tokens()
        buckets, slots, max_kicks, seed = \
            self.buckets, self.slots, self.max_kicks, self.seed
        scramble, n_shards = _SCRAMBLE, self.n_shards

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            from crawler_seo_spark.operators import cuckoo as ck
            from crawler_seo_spark.operators import shardstate
            s = int(pdf["_shard"].iloc[0])
            pdf = pdf.sort_values(["_ch1", "_ch2"], kind="mergesort")
            h1 = pdf["_ch1"].to_numpy().astype(np.int64)
            h2 = pdf["_ch2"].to_numpy().astype(np.int64)
            fp = ((h2.astype(np.uint64) % np.uint64(65535)) + np.uint64(1)) \
                .astype(np.uint16)
            mask = np.uint64(buckets - 1)
            i1 = ((h1.astype(np.uint64) >> np.uint64(8)) & mask) \
                .astype(np.int64)
            i2 = i1 ^ ((fp.astype(np.uint64) * scramble) & mask) \
                .astype(np.int64)
            table, stash = ck._unpack(
                shardstate.read_shard(sd, s, vers[s]), buckets, slots)
            removed = 0
            if op == "insert":
                rng = np.random.default_rng((seed, s, vers[s] + 1))
                for j in range(len(pdf)):
                    ck._insert_into(table, stash, int(fp[j]), int(i1[j]),
                                    int(i2[j]), buckets, slots, max_kicks,
                                    rng)
                changed = len(pdf) > 0
            else:  # delete
                for j in range(len(pdf)):
                    f_, done = int(fp[j]), False
                    for idx in (int(i1[j]), int(i2[j])):
                        hit = np.flatnonzero(table[idx] == f_)
                        if hit.size:
                            table[idx][hit[0]] = 0
                            done = True
                            break
                    if not done:
                        for entry in sorted(stash):
                            if entry[0] == f_:
                                stash.discard(entry)
                                done = True
                                break
                    removed += int(done)
                changed = removed > 0
            if changed:
                shardstate.publish_shard(sd, s, vers[s] + 1,
                                         ck._pack(table, stash))
            return pd.DataFrame({
                "shard": [s], "n": [len(pdf)], "removed": [removed],
                "changed": [int(changed)],
                "occupied": [int((table != 0).sum())],
                "stash_n": [len(stash)],
            })

        rows = (hashed.groupBy("_shard")
                .applyInPandas(kernel, schema=(
                    "shard int, n long, removed long, changed int, "
                    "occupied long, stash_n long"))
                .collect())
        for row in rows:
            s = row["shard"]
            if row["changed"]:
                self.meta.versions[s] += 1
                self._dirty.add(s)
            self._occupied[s] = row["occupied"]
            self._stash_n[s] = row["stash_n"]
        return rows

    def _save_meta(self) -> None:
        self.meta.counters.update({
            "n_inserted": self.n_inserted, "n_deleted": self.n_deleted,
            "occupied": self._occupied, "stash_n": self._stash_n})
        self.meta.save()

    def add_urls(self, df: DataFrame, url_col: str = "url",
                 covered_round: int | None = None) -> None:
        """Insert the urls of ``df`` — hashing JVM-side, mutation in the
        shard-owning tasks; only accounting ints reach the driver.
        ``covered_round`` as in :meth:`ShardedBloom.add_urls`."""
        rows = self._mutate(df, url_col, "insert")
        self.n_inserted += sum(r["n"] for r in rows)
        if covered_round is not None:
            self.meta.counters["covered_round"] = covered_round
        self._save_meta()

    def delete_urls(self, df: DataFrame, url_col: str = "url") -> int:
        """Remove one stored copy of each url's fingerprint (recrawl
        invalidation). Returns how many were found and removed.

        PRECONDITION (standard cuckoo-filter delete semantics): every url
        in ``df`` must have been previously inserted and not yet deleted.
        Deleting a never-inserted url can remove ANOTHER url's colliding
        fingerprint from a shared bucket pair — a false negative (duplicate
        crawl). The engine's only caller, ``recrawl.invalidate_seen``,
        satisfies this by construction (CHANGED/GONE statuses imply the url
        was in the previous crawl's cache). Residual caveat even under the
        precondition: if two inserted urls share a 16-bit fingerprint AND a
        bucket pair (odds ≈ occupied_slots / (buckets·2^16) per delete),
        the survivor's copy is the one removed — the invalidated url then
        still probes maybe-seen and its recrawl is silently skipped until
        the next invalidation; exactness of prune_new is unaffected."""
        rows = self._mutate(df, url_col, "delete")
        removed = sum(r["removed"] for r in rows)
        self.n_deleted += removed
        self._save_meta()
        return removed

    # -- probe ----------------------------------------------------------------
    def _account_probe(self) -> None:
        self.last_rebroadcast_bytes = len(self._dirty) * self.shard_nbytes
        self.total_rebroadcast_bytes += self.last_rebroadcast_bytes
        self._dirty.clear()

    def maybe_seen_col(self, spark: SparkSession):
        """(h1, h2) → bool; shard tables load worker-side via the
        per-process cache — each probe round re-reads only changed shards."""
        self._account_probe()
        sd, vers = self.state_dir, self.meta.tokens()
        n_shards, buckets, slots = self.n_shards, self.buckets, self.slots
        scramble = _SCRAMBLE
        mask = np.uint64(buckets - 1)

        @F.pandas_udf("boolean")
        def _maybe(h1: pd.Series, h2: pd.Series) -> pd.Series:
            from crawler_seo_spark.operators import cuckoo as ck
            from crawler_seo_spark.operators.shardstate import cached_load

            def parse(b):
                table, stash = ck._unpack(b, buckets, slots)
                stash_fps = np.array([e[0] for e in stash], dtype=np.uint16)
                return table, stash_fps

            s1 = h1.to_numpy().astype(np.int64)
            u2 = h2.to_numpy().astype(np.int64)
            shard_idx = np.mod(s1, n_shards)
            fp = ((u2.astype(np.uint64) % np.uint64(65535)) + np.uint64(1)) \
                .astype(np.uint16)
            i1 = ((s1.astype(np.uint64) >> np.uint64(8)) & mask) \
                .astype(np.int64)
            i2 = i1 ^ ((fp.astype(np.uint64) * scramble) & mask) \
                .astype(np.int64)
            out = np.zeros(len(s1), dtype=bool)
            for s in np.unique(shard_idx):
                m = shard_idx == s
                table, stash_fps = cached_load(sd, int(s), vers[int(s)], parse)
                hit1 = (table[i1[m]] == fp[m, None]).any(axis=1)
                hit2 = (table[i2[m]] == fp[m, None]).any(axis=1)
                hits = hit1 | hit2
                if stash_fps.size:
                    hits |= np.isin(fp[m], stash_fps)
                out[m] = hits
            return pd.Series(out)

        return _maybe

    def prune_new(self, candidates: DataFrame, seen: DataFrame,
                  url_col: str = "url") -> DataFrame:
        """Exact new-URL selection with cuckoo pre-prune (same contract as
        ShardedBloom.prune_new: misses bypass the anti-join, maybes get the
        exact check — the union is exactly the not-seen set)."""
        hashed = self.with_hashes(candidates, url_col)
        spark = candidates.sparkSession
        probed = hashed.withColumn(
            "_maybe",
            self.maybe_seen_col(spark)(F.col("_ch1"), F.col("_ch2")))
        # lazy pin: the union branches otherwise re-evaluate the probe UDF
        # and its upstream once each (see ShardedBloom.prune_new)
        probed = probed.localCheckpoint(eager=False)
        definitely_new = probed.filter(~F.col("_maybe"))
        maybe = probed.filter(F.col("_maybe"))
        survivors = maybe.join(seen.select(F.col(url_col)), url_col,
                               "left_anti")
        return (definitely_new.unionByName(survivors)
                .drop("_ch1", "_ch2", "_maybe"))

    def stats(self) -> dict:
        total_slots = self.n_shards * self.buckets * self.slots
        return {
            "n_inserted": self.n_inserted,
            "n_deleted": self.n_deleted,
            "load_factor": round(sum(self._occupied) / total_slots, 4),
            "stash_total": sum(self._stash_n),
            "last_rebroadcast_bytes": self.last_rebroadcast_bytes,
            "total_rebroadcast_bytes": self.total_rebroadcast_bytes,
            "driver_resident_bytes": self.meta.driver_resident_bytes()
            + 8 * 2 * self.n_shards,  # occupancy + stash counters
            "state_dir": self.state_dir,
        }
