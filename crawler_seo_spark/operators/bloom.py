"""Sharded, round-incremental Bloom filter for the URL-seen set —
file-backed shard state, ZERO filter bytes resident on the driver.

At 10^10-URL frontier scale the exact seen-set anti-join (J1) would scan and
shuffle the full seen table for every candidate batch. The Bloom prefilter
removes the bulk of *definitely-new* candidates from that join: only
maybe-seen candidates (true positives + FPR·new) reach the exact anti-join,
which preserves exactness — Bloom false positives cost one extra join probe,
false negatives are impossible.

Design (north-star construction, from public Bloom-filter practice):

* hashing is JVM-side — two independent 64-bit hashes per URL via
  ``xxhash64(url, seed)``; the k probe positions use standard double
  hashing ``h_i = h1 + i·h2 (mod m)`` (Kirsch-Mitzenmacher), so no Python
  touches the URL strings;
* the bit array is SHARDED by ``h1 mod n_shards``: each shard is built
  independently by an Arrow-batched ``applyInPandas`` over its hash group,
  giving fully parallel builds and bounded per-task memory;
* shard state lives in versioned files (operators/shardstate.py), NOT on
  the driver: the build task that owns a shard group loads the current
  shard file, ORs its delta in, and atomically publishes the next version.
  The driver receives only ``(shard, n, changed)`` accounting rows and
  keeps the O(n_shards) version vector — at FPR<1% and 10^10 URLs the
  bitmaps total ~12 GiB, which round 2 still parked in driver memory;
* probes load shard bitmaps lazily on the workers through a per-process
  cache keyed by shard: a version bump invalidates exactly that shard, so
  per probe round each worker (re)reads only the shards that changed —
  the same bounded-traffic lifecycle as the round-2 changed-shard-only
  re-broadcast, now with no driver copy and no Broadcast object churn.
  ``stats()`` reports the per-round changed-shard count and reload bytes
  so the bounded-traffic claim stays testable.

Shard routing uses the SAME function on both sides — Spark's signed
``pmod(h1, n_shards)`` at build, numpy's Python-semantics ``%`` on the
signed int64 at probe (identical results for every h1, any n_shards).
Round 1 probed with a uint64 reinterpretation, which disagrees with pmod
for negative h1 whenever n_shards is not a power of two — a Bloom FALSE
NEGATIVE (seen URL routed to the wrong shard → "definitely new" → crawled
twice). Regression-tested in tests/test_bloom.py with n_shards=30.

Sizing: with m bits per shard, n insertions per shard, k hashes, FPR ≈
(1 − e^{−kn/m})^k; defaults (1 MiB·8 bits × 32 shards, k=5) hold FPR < 1%
up to ~3·10^7 URLs per shard.

Deployment note: tasks mutate and read the state dir directly, so it must
be storage every executor can reach — on a cluster that is the object
store / DFS next to the checkpoint dir (single-object PUT is the atomic
publish there); in local mode any directory works. The engine points it
inside ``checkpoint_dir`` so resume reopens the same filter state and
skips the seen-set backfill.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .shardstate import ShardMeta

_SEED1 = 0x5EED_1001
_SEED2 = 0x5EED_2002


class ShardedBloom:
    """File-backed shard bitmaps + Spark-side build/probe plans."""

    def __init__(self, n_shards: int = 32, bits_per_shard: int = 1 << 23,
                 num_hashes: int = 5, state_dir: str | None = None) -> None:
        assert bits_per_shard % 64 == 0
        self.n_shards = n_shards
        self.bits = bits_per_shard
        self.k = num_hashes
        if state_dir is None:
            state_dir = tempfile.mkdtemp(prefix="bloom-state-")
            atexit.register(shutil.rmtree, state_dir, ignore_errors=True)
        self.meta = ShardMeta(state_dir, n_shards)
        self.n_inserted = int(self.meta.counters.get("n_inserted", 0))
        # per-shard reload lifecycle: dirty set + traffic meters
        self._dirty: set[int] = set()
        self.last_changed_shards = 0
        self.last_rebroadcast_bytes = 0
        self.total_rebroadcast_bytes = 0
        self.probe_rounds = 0

    @property
    def state_dir(self) -> str:
        return self.meta.state_dir

    @property
    def shard_nbytes(self) -> int:
        return self.bits // 8

    def reset(self) -> None:
        """Drop all filter state (fresh run over a stale state dir). Starts
        a new ShardMeta epoch so worker caches can't serve old bytes."""
        self.meta.reset()
        self.n_inserted = 0
        self._dirty.clear()
        self.last_changed_shards = self.last_rebroadcast_bytes = 0

    # -- hash columns (JVM-side) -------------------------------------------
    @staticmethod
    def with_hashes(df: DataFrame, url_col: str = "url") -> DataFrame:
        return (
            df.withColumn("_bh1", F.xxhash64(F.col(url_col), F.lit(_SEED1)))
              .withColumn("_bh2", F.xxhash64(F.col(url_col), F.lit(_SEED2)))
        )

    def _positions(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """(n, k) probe positions via double hashing, unsigned arithmetic."""
        u1 = h1.astype(np.uint64)
        u2 = h2.astype(np.uint64)
        ks = np.arange(self.k, dtype=np.uint64)
        return (u1[:, None] + ks[None, :] * u2[:, None]) % np.uint64(self.bits)

    def shard_of(self, h1: np.ndarray) -> np.ndarray:
        """Shard index — MUST equal Spark's ``pmod(h1, n_shards)``.

        numpy's ``%`` on signed ints uses Python semantics (result sign
        follows the divisor), which is exactly ``pmod``. Do NOT reinterpret
        to uint64 first: ``(2**64 + h1) % n`` differs from ``pmod(h1, n)``
        for negative h1 unless n is a power of two.
        """
        return np.mod(h1.astype(np.int64), self.n_shards)

    # -- build / merge -------------------------------------------------------
    def add_urls(self, df: DataFrame, url_col: str = "url",
                 covered_round: int | None = None) -> None:
        """OR the URLs of ``df`` into the shard bitmap files.

        The per-shard build runs distributed (one Arrow group per shard)
        and the owning TASK publishes the next shard-file version itself —
        the driver collects only ``(shard, n, changed)`` ints. Task retries
        are safe: republishing the same version with the same OR result is
        idempotent (the content is a pure function of old-state + batch).
        ``covered_round`` records, in the same atomic manifest save as the
        new shard versions, the last crawl round the filter now covers.
        """
        hashed = self.with_hashes(df.select(url_col), url_col)
        hashed = hashed.withColumn(
            "_shard", F.pmod(F.col("_bh1"), F.lit(self.n_shards)).cast("int"))
        bits, k, words = self.bits, self.k, self.bits // 64
        sd, vers = self.state_dir, self.meta.tokens()

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            from crawler_seo_spark.operators import shardstate
            s = int(pdf["_shard"].iloc[0])
            h1 = pdf["_bh1"].to_numpy().astype(np.uint64)
            h2 = pdf["_bh2"].to_numpy().astype(np.uint64)
            ks = np.arange(k, dtype=np.uint64)
            pos = ((h1[:, None] + ks[None, :] * h2[:, None])
                   % np.uint64(bits)).ravel()
            incoming = np.zeros(words, dtype=np.uint64)
            np.bitwise_or.at(incoming, (pos // 64).astype(np.int64),
                             np.uint64(1) << (pos % np.uint64(64)))
            old_bytes = shardstate.read_shard(sd, s, vers[s])
            old = (np.frombuffer(old_bytes, dtype=np.uint64)
                   if old_bytes is not None
                   else np.zeros(words, dtype=np.uint64))
            # publish only if the OR actually flips a bit — a round of
            # already-seen URLs writes (and later reloads) nothing.
            changed = bool(np.any(incoming & ~old))
            if changed:
                shardstate.publish_shard(sd, s, vers[s] + 1,
                                         (old | incoming).tobytes())
            return pd.DataFrame({"shard": [s], "n": [len(pdf)],
                                 "changed": [int(changed)]})

        built = (
            hashed.groupBy("_shard")
            .applyInPandas(build, schema="shard int, n long, changed int")
            .collect()
        )
        for row in built:
            if row["changed"]:
                self.meta.versions[row["shard"]] += 1
                self._dirty.add(row["shard"])
            self.n_inserted += row["n"]
        self.meta.counters["n_inserted"] = self.n_inserted
        if covered_round is not None:
            self.meta.counters["covered_round"] = covered_round
        self.meta.save()

    # -- probe ----------------------------------------------------------------
    def _account_probe(self) -> None:
        """Meter the per-round reload traffic: each worker must (re)read
        exactly the shards whose version changed since its last probe."""
        self.last_changed_shards = len(self._dirty)
        self.last_rebroadcast_bytes = len(self._dirty) * self.shard_nbytes
        self.total_rebroadcast_bytes += self.last_rebroadcast_bytes
        self.probe_rounds += 1
        self._dirty.clear()

    def stats(self) -> dict:
        return {
            "n_inserted": self.n_inserted,
            "probe_rounds": self.probe_rounds,
            "last_changed_shards": self.last_changed_shards,
            "last_rebroadcast_bytes": self.last_rebroadcast_bytes,
            "total_rebroadcast_bytes": self.total_rebroadcast_bytes,
            "driver_resident_bytes": self.meta.driver_resident_bytes(),
            "state_dir": self.state_dir,
        }

    def maybe_seen_col(self, spark: SparkSession):
        """Vectorized membership test: (h1, h2) → bool (true = maybe seen).

        The UDF closure carries only (state_dir, version vector) — shard
        bitmaps are loaded worker-side through the per-process shard cache
        (operators/shardstate.py), grouped per Arrow batch by shard, so a
        task touches only the shard bitmaps its rows route to: per-task
        memory is O(shards-in-batch) even when total state is tens of GiB,
        and an unchanged shard is read from disk once per worker process.
        """
        self._account_probe()
        sd, vers = self.state_dir, self.meta.tokens()
        bits, k, n_shards, words = self.bits, self.k, self.n_shards, \
            self.bits // 64

        @F.pandas_udf("boolean")
        def _maybe(h1: pd.Series, h2: pd.Series) -> pd.Series:
            from crawler_seo_spark.operators.shardstate import cached_load

            def parse(b):
                return (np.frombuffer(b, dtype=np.uint64)
                        if b is not None
                        else np.zeros(words, dtype=np.uint64))

            s1 = h1.to_numpy().astype(np.int64)
            u1 = s1.astype(np.uint64)
            u2 = h2.to_numpy().astype(np.uint64)
            shard_idx = np.mod(s1, n_shards)  # == Spark pmod, build-side match
            ks = np.arange(k, dtype=np.uint64)
            pos = (u1[:, None] + ks[None, :] * u2[:, None]) % np.uint64(bits)
            word = (pos // 64).astype(np.int64)
            bit = np.uint64(1) << (pos % np.uint64(64))
            out = np.empty(len(s1), dtype=bool)
            for s in np.unique(shard_idx):
                m = shard_idx == s
                bitmap = cached_load(sd, int(s), vers[int(s)], parse)
                out[m] = ((bitmap[word[m]] & bit[m]) != 0).all(axis=1)
            return pd.Series(out)

        return _maybe

    def prune_new(self, candidates: DataFrame, seen: DataFrame,
                  url_col: str = "url") -> DataFrame:
        """Exact new-URL selection with Bloom pre-prune (J1).

        ``definitely new`` (bloom miss) bypasses the anti-join entirely;
        ``maybe seen`` goes through the exact ``left_anti`` against the seen
        table. Union of both is exactly the not-seen set.
        """
        hashed = self.with_hashes(candidates, url_col)
        spark = candidates.sparkSession
        probed = hashed.withColumn(
            "_maybe", self.maybe_seen_col(spark)(F.col("_bh1"), F.col("_bh2")))
        # Pin the probed batch (lazy — materializes inside the consumer's
        # first job): the two union branches below are separate plan
        # subtrees, and without the pin Spark re-evaluates the probe UDF
        # AND its whole post-exchange upstream once per branch — double
        # Arrow crossings of every candidate row.
        probed = probed.localCheckpoint(eager=False)
        definitely_new = probed.filter(~F.col("_maybe"))
        maybe = probed.filter(F.col("_maybe"))
        survivors = maybe.join(seen.select(F.col(url_col)), url_col, "left_anti")
        return definitely_new.unionByName(survivors).drop("_bh1", "_bh2", "_maybe")


def expected_fpr(n: int, bits: int, k: int) -> float:
    """Textbook FPR estimate for one shard."""
    import math
    return (1.0 - math.exp(-k * n / bits)) ** k
