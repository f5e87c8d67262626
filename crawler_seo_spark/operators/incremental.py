"""Incremental dedup against PERSISTED signature indexes.

A 100 TB training-data pipeline does not deduplicate a frozen corpus once:
it ingests batches, and each batch must be checked against everything seen
so far without recomputing the corpus. The one-shot operators
(:func:`~crawler_seo_spark.operators.dedup.minhash_signatures` /
``lsh_candidate_pairs`` / ``simhash_pairs``) stay the whole-corpus tools;
this module adds the ingest shape for both signature families:

* signatures of every past document live in a provider table
  (:class:`~crawler_seo_spark.tables.SnapshotStore`), published per ingest
  round through Iceberg-style FAST-APPEND snapshots — each round writes
  ONLY the new batch's signatures (O(batch) IO) and the snapshot manifest
  unions it with the parent's data files. A full table rewrite per batch
  (``merge_into``'s shape, right for working-set-sized state like the
  frontier) would be O(corpus) per ingest — the scale-killer this design
  avoids.
* ``ingest`` computes signatures for the NEW batch only, emits candidate
  pairs of new-vs-(index ∪ new) via the same banded equi-join as the
  full-corpus operator (the index side streams from parquet, the new side
  is broadcast — an ingest batch is small relative to the corpus), then
  publishes the appended snapshot. Pairs already emitted by earlier
  rounds (old×old) are never re-derived.
* concurrent ingest writers cooperate when the store carries a
  ``writer_id``: a lost commit race aborts the staged round and REBASES —
  re-deriving the cross pairs against the winner's (larger) committed
  index, so racing batches pair against each other; signatures are never
  recomputed (pinned once per ingest call).

Invariants (pytest + the ``d_incremental_*`` DuckDB oracles): the union
of pairs over all ingest rounds equals the full-corpus recompute over the
union of batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..tables import ConcurrentCommitError, SnapshotStore
from .dedup import (banded_keys, guarded_band_pairs,
                    hamming_banded_keys, minhash_signatures, simhash64)


class _IncrementalIndex:
    """Shared scaffolding: committed-round bookkeeping and the
    append → commit → (rebase on lost race) loop. Subclasses provide
    ``_signatures`` (new-batch signature computation) and
    ``_derive_pairs`` (candidate pairs given the committed parent
    round)."""

    def __init__(self, store: SnapshotStore, table: str,
                 id_col: str, text_col: str,
                 broadcast_new: bool = True,
                 max_bucket: int | None = None,
                 compact_every: int | None = 16) -> None:
        self.store = store
        self.table = table
        self.id_col = id_col
        self.text_col = text_col
        self.broadcast_new = broadcast_new
        # hot-bucket guard: index-side buckets larger than this join new
        # docs against their min-id REPRESENTATIVE only (linear, not
        # O(bucket) candidates per new doc). None = exact (oracle parity).
        self.max_bucket = max_bucket
        # snapshot compaction cadence: once a committed snapshot lists
        # this many data dirs, ingest consolidates them into one base dir
        # (amortized one table rewrite per `compact_every` appends) so a
        # long-lived index's file-list stays O(compact_every), not
        # O(rounds). None = never compact.
        self.compact_every = compact_every

    def committed_round(self) -> int | None:
        m = self.store.manifest()
        return None if m is None else m["round"]

    def signatures(self, spark: SparkSession) -> DataFrame | None:
        """The committed index (all ingested signatures), or None."""
        r = self.committed_round()
        return None if r is None else self.store.read(spark, self.table, r)

    def _signatures(self, docs: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _derive_pairs(self, spark: SparkSession, new_sigs: DataFrame,
                      prev_round: int | None) -> DataFrame:
        raise NotImplementedError

    # attribute names whose values define the on-disk signature layout —
    # mixing them across reopen silently empties the candidate join (a
    # word/xxhash batch never band-collides with a char/md5 index), so
    # every commit records the signature and ingest verifies it.
    _config_fields: tuple[str, ...] = ()

    def _config_signature(self) -> str:
        return ";".join(f"{f}={getattr(self, f)}"
                        for f in self._config_fields)

    def _check_config(self) -> None:
        m = self.store.manifest()
        if m is None:
            return
        stored = m.get("counters", {}).get("index_config")
        sig = self._config_signature()
        if stored is None:
            # pre-config-recording index (r5 advisor finding): its layout
            # is unknown, so silently stamping THIS instance's config on
            # the next commit would mask a mismatch forever (a word/xxhash
            # batch never band-collides with a persisted char/md5 index —
            # the candidate join just goes empty). Surface it loudly; the
            # next commit then records whatever the caller confirmed.
            import logging
            logging.getLogger(__name__).warning(
                "index table '%s' has committed rounds but no recorded "
                "index_config (built before config recording) — cannot "
                "verify it matches this instance's [%s]; if the original "
                "build used different signature settings the candidate "
                "join will silently miss duplicates. Re-open with the "
                "original settings (e.g. SignatureIndex.oracle_parity for "
                "pre-r5 defaults) or ingest into a fresh table.",
                self.table, sig)
            return
        if stored != sig:
            raise ValueError(
                f"index table '{self.table}' was built with config "
                f"[{stored}] but this instance is configured [{sig}] — "
                "new signatures would never match the persisted ones "
                "(duplicates silently missed). Reopen with the original "
                "config or ingest into a fresh table.")

    def _publish_with_rebase(self, round_id: int | None, derive):
        """The append → commit → (rebase on lost race) protocol, shared by
        every index family. ``derive(prev_round) -> (result,
        rows_to_append, counters)`` is re-invoked against the NEW
        committed round after each lost race (its inputs are pinned by the
        caller, so nothing expensive recomputes)."""
        self._check_config()
        while True:
            prev_round = self.committed_round()
            rid = round_id if round_id is not None else (
                0 if prev_round is None else prev_round + 1)
            result, rows, counters = derive(prev_round)
            counters["index_config"] = self._config_signature()
            self.store.append(self.table, rows, rid,
                              parent_round=prev_round)
            try:
                self.store.commit_round(rid, counters)
                if (self.compact_every is not None
                        and len(self.store._snapshot_dirs(
                            self.table, rid)) >= self.compact_every):
                    # superseded dirs stay on disk (historical snapshots
                    # reference them), so `result`'s lazy reads of the
                    # pre-compaction list remain valid
                    self.store.compact(rows.sparkSession, self.table, rid)
                return result
            except ConcurrentCommitError:
                if self.store.writer_id is None or round_id is not None:
                    raise  # single-writer contract / caller pinned round
                # a live peer publishes the manifest within ms of its
                # marker claim — wait for it (a first-round race would
                # otherwise read manifest=None and misdiagnose). Timeout
                # ⇒ orphaned marker from a crashed run: clean and raise.
                if self.store.await_round(rid) is None:
                    self.store.abort_round(rid)
                    raise
                self.store.abort_round(rid)

    def ingest(self, spark: SparkSession, new_docs: DataFrame,
               round_id: int | None = None,
               extra_counters: dict | None = None) -> DataFrame:
        """Ingest a batch: returns candidate pairs of new-vs-(index ∪ new)
        and publishes the appended signature snapshot.

        Only ``new_docs``' signatures are computed (one pass, pinned by
        ``localCheckpoint`` so banding, the cross join, and the append
        write all share it — a rebase recomputes none of them); only they
        are written. Re-ingesting an id is the caller's contract to avoid
        (upstream URL-seen filtering guarantees it in the crawl
        pipeline); duplicate ids would pair with their earlier selves,
        surfacing — not corrupting — the violation. ``extra_counters``
        rides the commit (e.g. a micro-batch caller records its epoch for
        replay idempotency).

        With a ``writer_id`` on the store, a writer that loses the commit
        race aborts its staged round and rebases (see module docstring);
        without one the loser raises (single-writer contract).
        """
        obs = Observation()
        new_sigs = (self._signatures(new_docs)
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                    .localCheckpoint(eager=True))
        n_new = int(obs.get["n"])

        def derive(prev_round):
            pairs = self._derive_pairs(spark, new_sigs, prev_round)
            counters = {"n_new": n_new, "n_total": n_new,
                        **(extra_counters or {})}
            if prev_round is not None:
                counters["n_total"] += self.store.manifest()["counters"] \
                    .get("n_total", 0)
            return pairs, new_sigs, counters

        return self._publish_with_rebase(round_id, derive)

    def replay_pairs(self, spark: SparkSession,
                     round_id: int) -> DataFrame:
        """Re-derive the candidate pairs a COMMITTED ingest round
        produced, without touching the index — the idempotent-replay path
        (e.g. a restarted micro-batch epoch whose pairs write never
        completed). The round's delta rows are its snapshot's data dirs
        minus the parent snapshot's."""
        delta = self.store.snapshot_delta(self.table, round_id)
        if delta is not None:
            dirs = set(delta)
        else:  # pre-delta-record snapshot: parent set difference
            dirs = set(self.store._snapshot_dirs(self.table, round_id))
            if round_id > 0:
                dirs -= set(self.store._snapshot_dirs(self.table,
                                                      round_id - 1))
        new_sigs = spark.read.parquet(*sorted(dirs))
        return self._derive_pairs(
            spark, new_sigs, round_id - 1 if round_id > 0 else None)

    def _maybe_broadcast(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.broadcast_new else df

    def _trim_hot_index_buckets(self, banded_index: DataFrame,
                                key_cols: tuple[str, ...]) -> DataFrame:
        """Hot-bucket guard for the index×new candidate join: a
        template-degenerate corpus concentrates 10^5+ index rows on one
        bucket key, making every new doc that lands there emit O(bucket)
        candidate pairs per ingest. With ``max_bucket`` set, buckets above
        it are reduced to their minimum-id REPRESENTATIVE row: candidate
        count per new doc drops to O(1) per hot bucket, and a new member
        links into the hot cluster through the representative. For the
        UNVERIFIED family (MinHash/LSH) that preserves the component
        exactly. For verified families (SimHash Hamming, embedding
        cosine) the new↔rep pair must itself pass the verify — a new doc
        within threshold of some cluster members but beyond it from the
        representative loses the link (triangle inequality only bounds
        d(new, rep) ≤ 2·threshold): capping is a bounded RECALL trade on
        the capped buckets, not silent — ``hot_index_bucket_stats``
        reports exactly what the cap trims (run it periodically
        alongside ingest — the guard itself stays lazy so the derive
        plan pays no extra action)."""
        if self.max_bucket is None:
            return banded_index
        counts = (banded_index.groupBy(*key_cols)
                  .agg(F.count("*").alias("_bn"),
                       F.min(self.id_col).alias("_rep_id")))
        return (banded_index.join(counts, list(key_cols))
                .filter((F.col("_bn") <= self.max_bucket)
                        | (F.col(self.id_col) == F.col("_rep_id")))
                .drop("_bn", "_rep_id"))

    # banded-join key columns of this family's _banded_index frame
    _band_key_cols: tuple[str, ...] = ("band", "band_key")

    def hot_index_bucket_stats(self, spark: SparkSession,
                               key_cols: tuple[str, ...] | None = None) \
            -> dict:
        """(hot_buckets, hot_rows, max_bucket_rows) over the committed
        index at the current ``max_bucket`` — the observability side of
        the guard. One aggregation over banded keys; run it on the cadence
        monitoring needs, not per ingest."""
        if key_cols is None:
            key_cols = self._band_key_cols
        sigs = self.signatures(spark)
        if sigs is None:
            return {"hot_buckets": 0, "hot_rows": 0, "max_bucket_rows": 0}
        banded = self._banded_index(sigs)
        cap = self.max_bucket if self.max_bucket is not None else 2 ** 62
        row = (banded.groupBy(*key_cols).agg(F.count("*").alias("n"))
               .agg(F.sum(F.when(F.col("n") > cap, 1).otherwise(0))
                    .alias("hot_buckets"),
                    F.sum(F.when(F.col("n") > cap, F.col("n"))
                          .otherwise(0)).alias("hot_rows"),
                    F.max("n").alias("max_bucket_rows"))
               .collect()[0])
        return {"hot_buckets": int(row["hot_buckets"] or 0),
                "hot_rows": int(row["hot_rows"] or 0),
                "max_bucket_rows": int(row["max_bucket_rows"] or 0)}

    def _banded_index(self, sigs: DataFrame) -> DataFrame:
        """Subclasses with a banded join expose their banding here (used
        by :meth:`hot_index_bucket_stats`)."""
        raise NotImplementedError


class SignatureIndex(_IncrementalIndex):
    """Persisted MinHash signature index for incremental LSH dedup.

    The driver holds only the store handle and the ingest-round counter —
    signatures live in the provider table, candidate generation is one
    banded equi-join per ingest. Pair columns are canonical
    ``(id_a, id_b) = (least, greatest)``, distinct across bands.
    """

    def __init__(self, store: SnapshotStore, table: str = "signatures",
                 id_col: str = "doc_id", text_col: str = "text",
                 k: int = 32, bands: int = 8, shingle_n: int = 3,
                 shingle_mode: str = "word", hash_mode: str = "xxhash64",
                 impl: str = "arrow", seed: int = 42,
                 broadcast_new: bool = True,
                 max_bucket: int | None = None,
                 compact_every: int | None = 16) -> None:
        # defaults are PRODUCTION (word-3 shingles, xxhash64 — r4 verdict
        # #7: char-5 shingling pays interpreted-lambda substring+hash per
        # character, ~60x slower measured, and over-collides on
        # low-vocabulary corpora). The DuckDB-reproducible configuration
        # (char shingles, md5) is the explicit :meth:`oracle_parity`
        # constructor — oracle queries pin it; users get the fast config.
        assert k % bands == 0, "k must divide into equal bands"
        super().__init__(store, table, id_col, text_col, broadcast_new,
                         max_bucket, compact_every)
        self.k = k
        self.bands = bands
        self.shingle_n = shingle_n
        self.shingle_mode = shingle_mode
        self.hash_mode = hash_mode
        self.impl = impl
        self.seed = seed

    _config_fields = ("k", "bands", "shingle_n", "shingle_mode",
                      "hash_mode", "seed")

    @classmethod
    def oracle_parity(cls, store: SnapshotStore, **kw) -> "SignatureIndex":
        """The cross-engine-reproducible configuration (char-5 shingles,
        md5 — byte-identical in DuckDB SQL): the driver's oracle queries
        pin this; it is ~60× slower than the production default and exists
        for verification, not ingest throughput."""
        kw.setdefault("shingle_mode", "char")
        kw.setdefault("shingle_n", 5)
        kw.setdefault("hash_mode", "md5")
        return cls(store, **kw)

    def _signatures(self, docs: DataFrame) -> DataFrame:
        return minhash_signatures(
            docs, text_col=self.text_col, id_col=self.id_col, k=self.k,
            shingle_n=self.shingle_n, seed=self.seed,
            shingle_mode=self.shingle_mode, hash_mode=self.hash_mode,
            impl=self.impl)

    def _banded_index(self, sigs: DataFrame) -> DataFrame:
        return banded_keys(sigs, self.bands, self.id_col, k=self.k)

    def _derive_pairs(self, spark: SparkSession, new_sigs: DataFrame,
                      prev_round: int | None) -> DataFrame:
        bn = banded_keys(new_sigs, self.bands, self.id_col, k=self.k)
        if self.max_bucket is not None:
            # a template-degenerate INGEST BATCH is quadratic in the
            # self-join too — same guard as the index side
            pairs = guarded_band_pairs(bn, self.id_col, self.max_bucket,
                                       distinct=False)
        else:
            ln = bn.alias("l")
            # the ingest batch is small by contract (it is broadcast
            # against the index below) — broadcast one side of the
            # new×new self-join too, saving both shuffle exchanges
            rn = self._maybe_broadcast(bn).alias("r")
            pairs = (ln.join(rn, (F.col("l.band") == F.col("r.band"))
                             & (F.col("l.band_key")
                                == F.col("r.band_key"))
                             & (F.col(f"l.{self.id_col}")
                                < F.col(f"r.{self.id_col}")))
                     .select(F.col(f"l.{self.id_col}").alias("id_a"),
                             F.col(f"r.{self.id_col}").alias("id_b")))
        if prev_round is not None:
            index = self.store.read(spark, self.table, prev_round)
            bi = self._trim_hot_index_buckets(
                banded_keys(index, self.bands, self.id_col, k=self.k),
                ("band", "band_key"))
            cross = (bi.alias("i")
                     .join(self._maybe_broadcast(bn).alias("n"),
                           (F.col("i.band") == F.col("n.band"))
                           & (F.col("i.band_key") == F.col("n.band_key")))
                     .filter(F.col(f"i.{self.id_col}")
                             != F.col(f"n.{self.id_col}"))
                     .select(F.least(F.col(f"i.{self.id_col}"),
                                     F.col(f"n.{self.id_col}"))
                             .alias("id_a"),
                             F.greatest(F.col(f"i.{self.id_col}"),
                                        F.col(f"n.{self.id_col}"))
                             .alias("id_b")))
            pairs = pairs.unionByName(cross)
        return pairs.distinct()


class SimHashIndex(_IncrementalIndex):
    """Persisted SimHash index for incremental Hamming-banded dedup —
    the second signature family of the brief. Index rows are
    ``(id, simhash)``; candidates come from the pigeonhole band join
    (hamming ≤ bands−1 ⇒ a shared band), verified exactly with
    ``bit_count(xor)`` BEFORE the distinct so the exchange carries only
    surviving pairs. Output: (id_a, id_b, hamming)."""

    def __init__(self, store: SnapshotStore, table: str = "simhashes",
                 id_col: str = "doc_id", text_col: str = "text",
                 bits: int = 32, band_bits: int = 8, max_hamming: int = 3,
                 hash_mode: str = "md5",
                 broadcast_new: bool = True,
                 max_bucket: int | None = None,
                 compact_every: int | None = 16) -> None:
        assert bits % band_bits == 0
        assert max_hamming < bits // band_bits, \
            "pigeonhole needs max_hamming < n_bands"
        super().__init__(store, table, id_col, text_col, broadcast_new,
                         max_bucket, compact_every)
        self.bits = bits
        self.band_bits = band_bits
        self.max_hamming = max_hamming
        self.hash_mode = hash_mode

    _config_fields = ("bits", "band_bits", "hash_mode")

    def _signatures(self, docs: DataFrame) -> DataFrame:
        from .partitioning import widen_small_input
        return widen_small_input(docs).select(
            F.col(self.id_col),
            simhash64(F.col(self.text_col), self.bits,
                      self.hash_mode).alias("sh"))

    def _banded(self, h: DataFrame) -> DataFrame:
        return hamming_banded_keys(h, self.id_col, "sh",
                                   self.bits, self.band_bits)

    _banded_index = _banded

    def _derive_pairs(self, spark: SparkSession, new_sigs: DataFrame,
                      prev_round: int | None) -> DataFrame:
        bn = self._banded(new_sigs)
        if self.max_bucket is not None:
            # batch-side hot-bucket guard (chain pairing — see
            # guarded_band_pairs: clique-preserving under the verify)
            pairs = (guarded_band_pairs(bn, self.id_col, self.max_bucket,
                                        hash_col="sh", distinct=False)
                     .select("id_a", "id_b",
                             F.bit_count(F.col("hash_a").bitwiseXOR(
                                 F.col("hash_b"))).alias("hamming")))
        else:
            hamming = F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh")))
            pairs = (bn.alias("l")
                     .join(self._maybe_broadcast(bn).alias("r"),
                           (F.col("l.band") == F.col("r.band"))
                           & (F.col("l.band_key") == F.col("r.band_key"))
                           & (F.col(f"l.{self.id_col}")
                              < F.col(f"r.{self.id_col}")))
                     .select(F.col(f"l.{self.id_col}").alias("id_a"),
                             F.col(f"r.{self.id_col}").alias("id_b"),
                             hamming.alias("hamming")))
        if prev_round is not None:
            index = self.store.read(spark, self.table, prev_round)
            bi = self._trim_hot_index_buckets(self._banded(index),
                                              ("band", "band_key"))
            xham = F.bit_count(F.col("i.sh").bitwiseXOR(F.col("n.sh")))
            cross = (bi.alias("i")
                     .join(self._maybe_broadcast(bn).alias("n"),
                           (F.col("i.band") == F.col("n.band"))
                           & (F.col("i.band_key") == F.col("n.band_key")))
                     .filter(F.col(f"i.{self.id_col}")
                             != F.col(f"n.{self.id_col}"))
                     .select(F.least(F.col(f"i.{self.id_col}"),
                                     F.col(f"n.{self.id_col}"))
                             .alias("id_a"),
                             F.greatest(F.col(f"i.{self.id_col}"),
                                        F.col(f"n.{self.id_col}"))
                             .alias("id_b"),
                             xham.alias("hamming")))
            pairs = pairs.unionByName(cross)
        return (pairs.filter(F.col("hamming") <= self.max_hamming)
                .distinct())


class ParagraphIndex(_IncrementalIndex):
    """Incremental PARAGRAPH-level exact dedup against a persisted
    paragraph-hash index — the batch-ingest form of
    :mod:`~crawler_seo_spark.operators.paragraph`: each arriving batch
    keeps only paragraphs never seen before (in the index OR earlier in
    the batch by ``(doc, para_idx)``), and appends its new first
    occurrences as the next index snapshot (fast-append: O(new
    paragraphs) IO).

    Index rows: ``(para_hash, doc_id, para_idx)`` — the global first
    occurrence of each surviving hash. Membership probing streams the
    index against the BROADCAST batch (semi-join on the batch's distinct
    hashes, then the small hit set broadcasts back onto the occurrences),
    so the per-ingest cost is O(batch) plus one index scan. The
    commit-race rebase protocol is the shared
    :meth:`_IncrementalIndex._publish_with_rebase`.

    Equivalence invariant (tested + the ``d_incremental_paragraph_corpus``
    oracle): when batches arrive in ascending ``(doc_id)`` order, the
    concatenation of per-batch dedup'd corpora equals the whole-corpus
    :func:`~crawler_seo_spark.operators.paragraph.drop_duplicate_paragraphs`
    ("first" is ingestion order, which then coincides with the global
    ``(doc_id, para_idx)`` order)."""

    def __init__(self, store: SnapshotStore, table: str = "paragraphs",
                 id_col: str = "doc_id", text_col: str = "text",
                 delimiter: str | None = None,
                 compact_every: int | None = 16) -> None:
        from .paragraph import PARA_DELIM
        super().__init__(store, table, id_col, text_col,
                         compact_every=compact_every)
        self.delimiter = PARA_DELIM if delimiter is None else delimiter

    def _config_signature(self) -> str:
        return f"delimiter={self.delimiter!r}"

    def index(self, spark: SparkSession) -> DataFrame | None:
        return self.signatures(spark)

    def ingest(self, spark: SparkSession, new_docs: DataFrame,
               round_id: int | None = None) -> DataFrame:
        """Ingest a batch; returns its paragraph-dedup'd corpus
        (id, text) and publishes the appended hash-index snapshot."""
        from .paragraph import (corpus_from_marked,
                                mark_duplicate_paragraphs,
                                paragraph_occurrences)
        occ = paragraph_occurrences(new_docs, self.id_col, self.text_col,
                                    self.delimiter) \
            .localCheckpoint(eager=True)
        doc_ids = new_docs.select(self.id_col).localCheckpoint(eager=True)

        def derive(prev_round):
            marked = mark_duplicate_paragraphs(occ, self.id_col)
            if prev_round is not None:
                prev = self.store.read(spark, self.table, prev_round)
                hits = prev.join(
                    F.broadcast(occ.select("para_hash").distinct()),
                    "para_hash", "leftsemi") \
                    .select("para_hash").distinct()
                marked = (marked.join(F.broadcast(hits.withColumn(
                    "_in_index", F.lit(True))), "para_hash", "left")
                    .withColumn("is_dup",
                                F.col("is_dup")
                                | F.col("_in_index").isNotNull())
                    .drop("_in_index"))
            new_firsts = (marked.filter(~F.col("is_dup"))
                          .select("para_hash", self.id_col, "para_idx"))
            corpus = corpus_from_marked(doc_ids, marked, self.id_col,
                                        self.text_col, self.delimiter)
            return corpus, new_firsts, {"parent": prev_round}

        return self._publish_with_rebase(round_id, derive)

class EmbeddingIndex(_IncrementalIndex):
    """Persisted embedding index for incremental cosine near-dup — the
    third dedup family (text MinHash, SimHash, now embeddings). Index
    rows are ``(id, embedding, bucket)`` with the bucket a seeded
    random-hyperplane signature (the
    :mod:`~crawler_seo_spark.operators.similarity` broadcast-matrix UDF —
    planes are fixed at index construction, so every batch buckets
    identically). Candidates are bucket-equal pairs, verified exactly
    with the JVM cosine (rounded to 6 dp) against ``threshold`` — recall
    follows the bucketing (same-bucket ⇒ compared), and with
    ``multiprobe=0`` the incremental pair union equals the full-corpus
    blocked recompute (``embedding_near_duplicates(block_col="bucket")``)
    exactly.

    SIZING (r4 verdict #5): bucket population grows O(corpus / 2^planes)
    — at 10^9 rows the 6-plane default would put ~10^7 vectors per
    bucket. Derive ``n_planes`` from a target bucket size with
    :meth:`planes_for` (``⌈log2(corpus / target_bucket)⌉``). The
    recall/cost trade: each extra plane halves expected bucket size
    (candidate cost) but adds one more hyperplane a true near-pair can
    straddle — for cosine ≥ t, a single-plane split happens with
    probability ``n_planes · arccos(t)/π`` (≈ 0.10·n_planes at t=0.95),
    so deeper bucketing wants ``multiprobe=1``: every NEW doc also probes
    the ``n_planes`` buckets at Hamming distance 1 (one sign flip),
    recovering exactly the single-plane-straddle misses for an
    (n_planes+1)× candidate-join fan-out on the (small, broadcast) new
    side only. Exact cosine verification is unchanged, so multi-probe
    affects recall, never precision."""

    def __init__(self, store: SnapshotStore, dim: int,
                 table: str = "embeddings_idx", id_col: str = "vec_id",
                 vec_col: str = "embedding", n_planes: int = 6,
                 seed: int = 42, threshold: float = 0.95,
                 broadcast_new: bool = True,
                 max_bucket: int | None = None,
                 compact_every: int | None = 16,
                 multiprobe: int = 0) -> None:
        assert multiprobe in (0, 1), "multiprobe: 0 (off) or 1 (±1 bit)"
        super().__init__(store, table, id_col, vec_col, broadcast_new,
                         max_bucket, compact_every)
        from .similarity import hyperplanes
        self.vec_col = vec_col
        self.n_planes = n_planes
        self.threshold = threshold
        self.multiprobe = multiprobe
        self.planes = hyperplanes(dim, n_planes, seed)

    @staticmethod
    def planes_for(corpus_size: int, target_bucket: int = 4096) -> int:
        """``n_planes`` that keeps expected bucket population near
        ``target_bucket`` at ``corpus_size`` rows: ⌈log2(corpus/target)⌉,
        min 1. E.g. 10^9 rows / target 4096 → 18 planes (2^18 buckets)."""
        import math
        return max(1, math.ceil(math.log2(max(corpus_size
                                              / max(target_bucket, 1), 2))))

    def _signatures(self, docs: DataFrame) -> DataFrame:
        from .partitioning import widen_small_input
        from .similarity import _bucket_udf
        bucket = _bucket_udf(docs.sparkSession.sparkContext, self.planes)
        return widen_small_input(docs).select(
            F.col(self.id_col), F.col(self.vec_col),
            bucket(F.col(self.vec_col)).alias("bucket"))

    def _with_probes(self, new_sigs: DataFrame) -> DataFrame:
        """Explode the NEW side over its probe buckets: the own bucket
        plus (multiprobe=1) every one-bit flip. The fan-out rides the
        small broadcast side; the index side never expands."""
        if not self.multiprobe:
            return new_sigs.withColumn("_probe", F.col("bucket"))
        probes = F.array(F.col("bucket"),
                         *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
                           for j in range(self.n_planes)])
        return new_sigs.withColumn("_probe", F.explode(probes))

    def _pairs_between(self, left: DataFrame, right: DataFrame,
                       strict_less: bool) -> DataFrame:
        """Candidate pairs: ``left.bucket`` matched against the NEW
        (right) side's probe buckets — with multiprobe off that is plain
        bucket equality; bit-flip symmetry makes one-sided probing cover
        both directions of a Hamming-1 split."""
        from .similarity import cosine_col
        idc = self.id_col
        cond = (F.col(f"l.{idc}") < F.col(f"r.{idc}") if strict_less
                else F.col(f"l.{idc}") != F.col(f"r.{idc}"))
        return (left.alias("l")
                .join(right.alias("r"),
                      (F.col("l.bucket") == F.col("r._probe")) & cond)
                .select(F.least(F.col(f"l.{idc}"),
                                F.col(f"r.{idc}")).alias("id_a"),
                        F.greatest(F.col(f"l.{idc}"),
                                   F.col(f"r.{idc}")).alias("id_b"),
                        cosine_col(F.col(f"l.{self.vec_col}"),
                                   F.col(f"r.{self.vec_col}"))
                        .alias("cosine"))
                .filter(F.col("cosine") >= self.threshold))

    def _derive_pairs(self, spark: SparkSession, new_sigs: DataFrame,
                      prev_round: int | None) -> DataFrame:
        probed = self._with_probes(new_sigs)
        pairs = self._pairs_between(new_sigs,
                                    self._maybe_broadcast(probed),
                                    strict_less=True)
        if prev_round is not None:
            index = self._trim_hot_index_buckets(
                self.store.read(spark, self.table, prev_round),
                ("bucket",))
            pairs = pairs.unionByName(self._pairs_between(
                index, self._maybe_broadcast(probed),
                strict_less=False))
        return pairs.distinct()

    _band_key_cols = ("bucket",)

    def _banded_index(self, sigs: DataFrame) -> DataFrame:
        return sigs
