"""Deduplication operators for training-data pipelines.

Five families, each chosen for a different scale/recall point:

* :func:`exact_duplicates` — hash-groupBy on a normalized fingerprint.
  One shuffle on the 16-byte key; the baseline for byte-near-identical text.
* :func:`minhash_signatures` / :func:`lsh_candidate_pairs` — MinHash + LSH
  banding. Signatures are PER-ROW array expressions (shingle → 32-bit hash →
  k affine permutations → min), no shuffle until the band-bucket join; the
  band join touches only colliding pairs — the classic near-dup design for
  10^9+ documents (Broder's construction).
* :func:`simhash64` — 64-bit SimHash from token hashes, per-row; Hamming
  proximity via band-of-bits join.
* :func:`ngram_jaccard_pairs` — exact Jaccard verification on candidate
  pairs (the LSH post-filter; also usable stand-alone at small scale).
* :func:`embedding_near_duplicates` — cosine near-dup over an embedding
  column via per-row norm + bucketed self-join (see similarity.py for ANN).

Hash primitive: the low 32 bits of md5 — available bit-identically in both
Spark and DuckDB (the driver's oracle), unlike xxhash64/murmur which differ
across engines. Affine permutation params are seeded literals so the oracle
SQL can embed the same constants.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .partitioning import widen_small_input
from .text import fingerprint_col

MERSENNE31 = (1 << 31) - 1  # modulus for affine MinHash permutations


def minhash_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs, a in [1, 2^20) keeps a*h below 2^51."""
    rng = random.Random(seed)
    return [(rng.randrange(1, 1 << 20), rng.randrange(0, MERSENNE31))
            for _ in range(k)]


def md5_hash32(col: Column) -> Column:
    """Low-ish 32 bits of md5 — cross-engine reproducible string hash."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def normalized_text_col(text: Column) -> Column:
    """Casefold, strip punctuation, collapse whitespace, trim.

    ONE regex pass (r6): ``[^\\p{L}\\p{N}]+`` already consumes every
    whitespace character (whitespace is neither letter nor number), and
    a maximal run becomes exactly one space — so the historical second
    pass ``\\s+ → " "`` could only ever see single spaces and was a
    provable identity. Dropping it halves the regex cost of every
    normalization consumer (minhash/simhash/fingerprint/span);
    output is byte-identical (property-tested against the two-pass form)
    and the DuckDB oracle's two-pass SQL keeps matching for the same
    reason."""
    return F.trim(F.regexp_replace(
        F.lower(text), r"[^\p{L}\p{N}]+", " "))


def shingles_col(text: Column, n: int = 5) -> Column:
    """Character n-gram shingle array over the normalized text (per-row)."""
    norm = normalized_text_col(text)
    count = F.greatest(F.length(norm) - (n - 1), F.lit(1))
    return F.transform(F.sequence(F.lit(1), count),
                       lambda i: F.substring(norm, i, n))


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by content fingerprint: one row per group with
    size > 1, canonical keeper = min id (deterministic)."""
    df = widen_small_input(df)
    fp = df.select(F.col(id_col), fingerprint_col(F.col(text_col)).alias("fp"))
    return (fp.groupBy("fp")
              .agg(F.count("*").alias("dup_count"),
                   F.min(id_col).alias("keeper_id"))
              .filter(F.col("dup_count") > 1))


def drop_exact_duplicates(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per fingerprint (the global dedup pass)."""
    w = Window.partitionBy(fingerprint_col(F.col(text_col))).orderBy(id_col)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def token_hashes_col(text: Column, hash_mode: str = "xxhash64") -> Column:
    """Per-token hash array — ONE pass over the token array.

    Scale note: any expression that indexes back into the token array from
    inside another higher-order lambda (e.g. ``get(tokens, i+j)`` to build
    word n-grams) re-evaluates the token-array expression per element —
    Catalyst inlines, it does not materialize — turning shingling O(n²) per
    row (measured 50× slowdown). Keep lambdas element-local; combine
    consecutive tokens arithmetically downstream instead.
    """
    norm = normalized_text_col(text)
    # array_remove is a codegen'd expression — same result as the
    # interpreted filter(t != "") lambda (empty tokens only arise from
    # the empty normalized string), minus the per-element HOF
    # interpretation cost
    tokens = F.array_remove(F.split(norm, " "), "")
    if hash_mode == "md5":
        return F.transform(tokens, lambda t: md5_hash32(t) % MERSENNE31)
    return F.transform(
        tokens, lambda t: F.pmod(F.xxhash64(t, F.lit(42)), F.lit(MERSENNE31)))


def _shingle_hashes(text: Column, shingle_n: int, shingle_mode: str,
                    hash_mode: str) -> Column:
    """Char-shingle hash array (JVM-side). For word shingles use
    :func:`token_hashes_col` + numpy windowed combination (see
    minhash_signatures) — never string n-gram materialization."""
    sh = shingles_col(text, shingle_n)
    if hash_mode == "md5":
        # cross-engine-reproducible (DuckDB oracle) but ~10× slower
        return F.transform(sh, lambda s: md5_hash32(s) % MERSENNE31)
    return F.transform(
        sh, lambda s: F.pmod(F.xxhash64(s, F.lit(42)), F.lit(MERSENNE31)))


_SHINGLE_POLY = 1_000_003  # polynomial base for word-shingle combination


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 32,
                       shingle_n: int = 5, seed: int = 42,
                       shingle_mode: str = "char",
                       hash_mode: str = "md5",
                       impl: str = "arrow") -> DataFrame:
    """(id, signature array<long>) — fully per-row, zero shuffles.

    Two implementations with identical outputs:

    * ``impl="arrow"`` (default): shingle hashes JVM-side, k-way min as
      numpy broadcasting over Arrow batches. Catalyst higher-order-function
      lambdas are interpreted per element (not codegen'd), so the pure-SQL
      fold pays ~300 ns/element; the Arrow path does the same arithmetic at
      memory bandwidth.
    * ``impl="sql"``: single ``aggregate``/``zip_with`` fold — zero Python,
      for clusters where the Arrow channel is the bottleneck. (The naive
      ``array(*[array_min(transform(hashes, …))])`` form is ~k× worse
      still — Catalyst re-evaluates the hash array per permutation, no CSE
      across lambdas; measured and rejected.)
    """
    params = minhash_params(k, seed)
    df = widen_small_input(df)
    if shingle_mode == "word":
        # word shingles: token hashes JVM-side, windowed polynomial
        # combination + k-min in numpy (shingle hash = Σ h[i+j]·P^j mod M)
        assert impl == "arrow", "word shingles are Arrow-path only"
        tok = token_hashes_col(F.col(text_col), hash_mode)
        a_vec = np.array([a for a, _ in params], dtype=np.int64)
        b_vec = np.array([b for _, b in params], dtype=np.int64)
        n = shingle_n

        # Batch form (r6): windowed shingle combine over the batch's
        # CONCATENATED token-hash stream (within-doc windows only — the
        # per-doc segments are sliced back out), then the k-way min as
        # k segmented reductions. The r5 per-row loop paid ~6 numpy
        # dispatches + a (win × k) allocation per document; this form is
        # ~(n-1)+k linear passes per batch. Values are identical: the
        # windowed combine only reads a window's own tokens, and
        # min-reduceat computes the same per-segment minima.
        @F.pandas_udf("array<long>")
        def _minhash_word(hh: pd.Series) -> pd.Series:
            M = MERSENNE31
            out = [None] * len(hh)
            arrs, idx = [], []
            for i, h in enumerate(hh):
                if h is None or len(h) == 0:
                    out[i] = np.full(len(a_vec), M, dtype=np.int64)
                else:
                    arrs.append(np.asarray(h, dtype=np.int64))
                    idx.append(i)
            if arrs:
                lens = np.asarray([len(a) for a in arrs], dtype=np.int64)
                starts = np.zeros(len(arrs), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                big = np.concatenate(arrs)
                T = len(big)
                if T >= n:
                    sh_all = big[: T - n + 1].copy()
                    for j in range(1, n):
                        sh_all = (sh_all * _SHINGLE_POLY
                                  + big[j: T - n + 1 + j]) % M
                segs = []
                seg_starts = np.empty(len(arrs), dtype=np.int64)
                w = 0
                for d in range(len(arrs)):
                    s, ln = starts[d], lens[d]
                    if ln >= n:
                        seg = sh_all[s: s + ln - n + 1]
                    else:
                        # short doc: each token hash is its own shingle
                        # (token hashes are already < M)
                        seg = big[s: s + ln]
                    segs.append(seg)
                    seg_starts[d] = w
                    w += len(seg)
                vals = np.concatenate(segs)
                sig = np.empty((len(arrs), len(a_vec)), dtype=np.int64)
                for j in range(len(a_vec)):
                    pv = (vals * a_vec[j] + b_vec[j]) % M
                    sig[:, j] = np.minimum.reduceat(pv, seg_starts)
                for d, i in enumerate(idx):
                    out[i] = sig[d]
            return pd.Series(out)

        return df.select(F.col(id_col),
                         _minhash_word(tok).alias("signature"))

    hashes = _shingle_hashes(F.col(text_col), shingle_n, shingle_mode,
                             hash_mode)
    if impl == "sql":
        params_col = F.array(*[
            F.struct(F.lit(a).cast("long").alias("a"),
                     F.lit(b).cast("long").alias("b"))
            for a, b in params])
        init = F.array_repeat(F.lit(MERSENNE31).cast("long"), k)
        sig = F.aggregate(
            hashes, init,
            lambda acc, h: F.zip_with(
                acc, params_col,
                lambda m, p: F.least(m, (p["a"] * h + p["b"]) % MERSENNE31)))
        return df.select(F.col(id_col), sig.alias("signature"))

    # Arrow path (default): hash array computed JVM-side in ONE pass, then
    # the k-way min runs as numpy broadcasting over Arrow batches —
    # (n_shingles × k) int64 ops vectorized in C. Exact same values as the
    # SQL form (products < 2^51, no overflow).
    a_vec = np.array([a for a, _ in params], dtype=np.int64)
    b_vec = np.array([b for _, b in params], dtype=np.int64)

    @F.pandas_udf("array<long>")
    def _minhash(hh: pd.Series) -> pd.Series:
        out = []
        for h in hh:
            if h is None or len(h) == 0:
                out.append([MERSENNE31] * len(a_vec))
                continue
            hv = np.asarray(h, dtype=np.int64)
            sig = ((hv[:, None] * a_vec[None, :] + b_vec[None, :])
                   % MERSENNE31).min(axis=0)
            out.append(sig.tolist())
        return pd.Series(out)

    return df.select(F.col(id_col),
                     _minhash(hashes).alias("signature"))


def banded_keys(signatures: DataFrame, bands: int = 8,
                id_col: str = "doc_id", k: int | None = None) -> DataFrame:
    """(id, band, band_key) rows: the signature split into ``bands``
    contiguous slices, each hashed to one key — the LSH bucketing shared
    by full-corpus (:func:`lsh_candidate_pairs`) and incremental
    (:class:`~crawler_seo_spark.operators.incremental.SignatureIndex`)
    candidate generation. Only (band, key, id) triples ever move — never
    signatures or text."""
    if k is None:
        k = signatures.select(
            F.size("signature").alias("n")).limit(1).collect()[0]["n"]
    rows_per_band = k // bands
    # NOT widened here: widening would shuffle the signature arrays,
    # which this operator's design forbids (only (id, band, band_key)
    # triples may cross an exchange — test_plans pins it); signature
    # producers (minhash_signatures) widen their own input instead.
    return signatures.select(
        F.col(id_col),
        F.posexplode(F.array(*[
            F.md5(F.concat_ws(",", *[
                F.col("signature").getItem(b * rows_per_band + r)
                for r in range(rows_per_band)]))
            for b in range(bands)
        ])).alias("band", "band_key"))


def guarded_band_pairs(banded: DataFrame, id_col: str,
                       max_bucket: int | None = None,
                       hash_col: str | None = None,
                       distinct: bool = True) -> DataFrame:
    """Self-join banded rows on (band, band_key) into canonical id pairs
    — the one primitive behind every banded near-dup search here — with
    an optional HOT-BUCKET guard for template-degenerate corpora.

    Real web corpora are not uniform: 10^5 near-identical boilerplate
    pages share a band key, and an unguarded self-join makes that one
    bucket O(10^10) pairs. With ``max_bucket`` set, buckets whose
    population exceeds it emit n−1 LINEAR pairs instead of n·(n−1)/2,
    with the pairing chosen for the consumer:

    * ``hash_col=None`` (LSH — pairs are used as-is): STAR pairing
      through the bucket's minimum-id member. Downstream
      connected-components sees the identical component — all members
      stay linked through the representative.
    * ``hash_col`` set (pairs feed an exact verify filter): CHAIN
      pairing, members sorted by ``(hash, id)`` and linked to their
      neighbor. Star would concentrate every member's ONLY pair on one
      representative — a member near its neighbors but far from the rep
      would lose all pairs to the verify. Chain edges of a true
      near-dup clique are clique edges (every pairwise distance within
      threshold ⇒ every chain edge survives), so template clusters keep
      their exact component; for MIXED buckets members link only
      through verified neighbors — capping is a recall trade there, and
      it is COUNTED, never silent: the returned DataFrame carries a
      ``hot_bucket_observation`` attribute
      (:class:`pyspark.sql.Observation` with ``hot_buckets`` /
      ``hot_rows``) that fires with the action, plus a plan-time log
      line.

    ``max_bucket=None`` (default) preserves the exact all-pairs
    semantics — the oracle-parity configuration.

    With ``hash_col`` set, pairs carry ``hash_a``/``hash_b`` (for exact
    Hamming verification) on both the normal and chain sides.
    """
    hc = [hash_col] if hash_col else []
    out_hashes = ([F.col(f"l.{hash_col}").alias("hash_a"),
                   F.col(f"r.{hash_col}").alias("hash_b")] if hash_col
                  else [])
    if max_bucket is None:
        normal, hot, obs = banded, None, None
    else:
        from pyspark.sql import Observation
        obs = Observation()
        counts = (banded.groupBy("band", "band_key")
                  .agg(F.count("*").alias("_bn"),
                       F.min(F.struct(id_col, *hc)).alias("_rep"))
                  .observe(
                      obs,
                      F.sum(F.when(F.col("_bn") > max_bucket, 1)
                            .otherwise(0)).alias("hot_buckets"),
                      F.sum(F.when(F.col("_bn") > max_bucket,
                                   F.col("_bn")).otherwise(0))
                      .alias("hot_rows")))
        # equi-join on the SAME keys as the groupBy: the banded exchange
        # is hash-partitioned identically for both consumers, so Spark's
        # ReusedExchange computes the banding once
        withn = banded.join(counts, ["band", "band_key"])
        normal = withn.filter(F.col("_bn") <= max_bucket) \
                      .drop("_bn", "_rep")
        hot = withn.filter(F.col("_bn") > max_bucket)
        import logging
        logging.getLogger(__name__).info(
            "banded self-join guarded: buckets > %d rows take the "
            "linear star path (see hot_bucket_observation)", max_bucket)
    # Join strategy: NEVER broadcast — the build side of this self-join IS
    # the probe side (same banded relation), so a broadcast ships a full
    # copy of the corpus' banded rows to every task and rebuilds the hashed
    # relation on every action; at 10^9 docs it cannot broadcast at all.
    # Both sides shuffle on the same key, and identical subtrees share ONE
    # exchange (ReusedExchange). With max_bucket set, per-key populations
    # are bounded, so the per-partition hash build is bounded too →
    # SHUFFLE_HASH (no sort). Unguarded buckets can be arbitrarily large →
    # MERGE (sort-merge spills gracefully).
    l, r = normal.alias("l"), normal.alias("r")
    r = r.hint("SHUFFLE_HASH" if max_bucket is not None else "MERGE")
    pairs = (l.join(r, (F.col("l.band") == F.col("r.band"))
                    & (F.col("l.band_key") == F.col("r.band_key"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .select(F.col(f"l.{id_col}").alias("id_a"),
                     F.col(f"r.{id_col}").alias("id_b"), *out_hashes))
    if hot is not None:
        if hash_col is None:
            # STAR pairing (no downstream verify filters these pairs):
            # every member links through the min-id representative —
            # exactly component-preserving, n−1 edges per bucket
            star = (hot.filter(F.col(id_col) != F.col(f"_rep.{id_col}"))
                    .select(F.col(f"_rep.{id_col}").alias("id_a"),
                            F.col(id_col).alias("id_b")))
            pairs = pairs.unionByName(star)
        else:
            # CHAIN pairing ordered by (hash, id): with a verify filter
            # downstream, star pairing would drop ALL of a member's
            # pairs whenever it is far from the representative even if
            # near its neighbors. Chain edges between hash-adjacent
            # members are clique edges for a true near-dup clique (every
            # pairwise distance ≤ threshold ⇒ every chain edge survives
            # the verify), so template clusters keep their component;
            # mixed buckets link only through verified neighbors — a
            # counted recall trade, never a silent one (the Observation
            # fires per action)
            from pyspark.sql import Window
            w = Window.partitionBy("band", "band_key") \
                .orderBy(hash_col, id_col)
            chained = (hot
                       .withColumn("_pid", F.lag(id_col).over(w))
                       .withColumn("_ph", F.lag(hash_col).over(w))
                       .filter(F.col("_pid").isNotNull()))
            a_first = F.col("_pid") < F.col(id_col)
            chain = chained.select(
                F.when(a_first, F.col("_pid")).otherwise(F.col(id_col))
                .alias("id_a"),
                F.when(a_first, F.col(id_col)).otherwise(F.col("_pid"))
                .alias("id_b"),
                F.when(a_first, F.col("_ph")).otherwise(F.col(hash_col))
                .alias("hash_a"),
                F.when(a_first, F.col(hash_col)).otherwise(F.col("_ph"))
                .alias("hash_b"))
            pairs = pairs.unionByName(chain)
    if distinct:
        pairs = pairs.distinct()
    pairs.hot_bucket_observation = obs
    return pairs


def lsh_candidate_pairs(signatures: DataFrame, bands: int = 8,
                        id_col: str = "doc_id",
                        max_bucket: int | None = None) -> DataFrame:
    """Band the signatures and self-join on (band, band-key).

    k/bands rows per band; documents agreeing on any full band collide.
    The join is an equi-join on the band hash — the only shuffle, and it
    moves (band, key, id) triples, never the signatures or the text.
    ``max_bucket`` caps template-degenerate buckets via
    :func:`guarded_band_pairs` star pairing (None = exact all-pairs).
    """
    banded = banded_keys(signatures, bands, id_col)
    return guarded_band_pairs(banded, id_col, max_bucket)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash64(text: Column, bits: int = 32,
              hash_mode: str = "md5", impl: str = "arrow") -> Column:
    """SimHash over whitespace tokens of the normalized text (per-row).

    For each bit position b, the bit is 1 iff more token hashes have bit b
    set than unset (Charikar's construction). 32 bits by default — enough
    Hamming resolution for near-dup bucketing while staying in exact int64
    arithmetic on both engines.

    Single ``aggregate`` pass folding each token hash into the per-bit
    counter array (see minhash_signatures for why the per-bit-transform
    form is pathological).
    """
    norm = normalized_text_col(text)
    # array_remove is a codegen'd expression — same result as the
    # interpreted filter(t != "") lambda (empty tokens only arise from
    # the empty normalized string), minus the per-element HOF
    # interpretation cost
    tokens = F.array_remove(F.split(norm, " "), "")
    if hash_mode == "md5":
        hashes = F.transform(tokens, lambda t: md5_hash32(t))
    else:
        hashes = F.transform(
            tokens,
            lambda t: F.pmod(F.xxhash64(t, F.lit(42)),
                             F.lit(1 << 32).cast("long")))
    if impl == "sql":
        n = F.size(hashes)
        bit_idx = F.sequence(F.lit(0), F.lit(bits - 1))
        counts = F.aggregate(
            hashes, F.array_repeat(F.lit(0).cast("long"), bits),
            lambda acc, h: F.zip_with(
                acc, bit_idx,
                lambda c, b: c + F.floor(h / F.pow(F.lit(2.0), b))
                                  .cast("long") % 2))
        bit_vals = F.transform(
            counts, lambda c: F.when(c * 2 > n, F.lit(1).cast("long"))
            .otherwise(F.lit(0).cast("long")))
        return F.aggregate(
            bit_vals, F.lit(0).cast("long"),
            lambda acc, bit: acc * 2 + bit)

    # Arrow path: token hashes JVM-side, majority-bit vote vectorized.
    # Batch form (r6): concatenate the batch's token-hash arrays once and
    # take per-document bit counts with segmented reductions — the r5
    # per-row loop paid ~10 numpy dispatches per (typically ~10^2-token)
    # document, which dominated the kernel. Values are bit-identical:
    # same counts, same majority rule, same MSB-first fold.
    @F.pandas_udf("long")
    def _simhash(hh: pd.Series) -> pd.Series:
        out = np.zeros(len(hh), dtype=np.int64)
        arrs, idx = [], []
        for i, h in enumerate(hh):
            if h is not None and len(h):
                arrs.append(np.asarray(h, dtype=np.int64))
                idx.append(i)
        if not arrs:
            return pd.Series(out)
        lens = np.asarray([len(a) for a in arrs], dtype=np.int64)
        starts = np.zeros(len(lens), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        big = np.concatenate(arrs)
        ones = np.empty((len(arrs), bits), dtype=np.int64)
        for b in range(bits):
            ones[:, b] = np.add.reduceat((big >> np.int64(b))
                                         & np.int64(1), starts)
        bitv = (ones * 2 > lens[:, None]).astype(np.int64)
        # bit 0 is most significant (matches the SQL fold acc*2+bit)
        weights = np.int64(1) << (bits - 1
                                  - np.arange(bits, dtype=np.int64))
        out[np.asarray(idx)] = bitv @ weights
        return pd.Series(out)

    return _simhash(hashes)


def hamming_banded_keys(df: DataFrame, id_col: str, hash_col: str,
                        bits: int, band_bits: int) -> DataFrame:
    """(id, hash, band, band_key): the integer fingerprint split into
    ``bits/band_bits`` contiguous slices — the pigeonhole bucketing shared
    by :func:`simhash_pairs`, :func:`hamming_near_dup_pairs`, and the
    incremental :class:`~crawler_seo_spark.operators.incremental.SimHashIndex`
    (one definition, so full-corpus and incremental pair sets can never
    drift apart on band encoding)."""
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    return df.select(
        id_col, hash_col,
        F.posexplode(F.array(*[
            F.shiftright(F.col(hash_col), b * band_bits)
            .bitwiseAND(F.lit(mask))
            for b in range(n_bands)
        ])).alias("band", "band_key"))


def simhash_pairs(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 32,
                  band_bits: int = 8, max_hamming: int = 3,
                  hash_mode: str = "md5",
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: band the hash into ``bits/band_bits``
    chunks (pigeonhole: hamming ≤ bands-1 guarantees a shared band), join on
    any equal band, verify Hamming distance exactly via bit_count(xor).
    ``max_bucket`` caps template-degenerate buckets (hash-ordered CHAIN
    pairing via :func:`guarded_band_pairs` — clique-component-preserving
    under the verify; the exact Hamming verify still applies to every
    emitted pair)."""
    df = widen_small_input(df)
    h = df.select(F.col(id_col),
                  simhash64(F.col(text_col), bits, hash_mode).alias("sh"))
    banded = hamming_banded_keys(h, id_col, "sh", bits, band_bits)
    pairs = guarded_band_pairs(banded, id_col, max_bucket, hash_col="sh",
                               distinct=False)
    # exact verify BEFORE the distinct: the dedup exchange carries only
    # surviving pairs
    out = (pairs.select(
        "id_a", "id_b",
        F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
        .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct())
    out.hot_bucket_observation = pairs.hot_bucket_observation
    return out


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (verification / small-scale stand-alone)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 5,
                        threshold: float = 0.6) -> DataFrame:
    """Exact Jaccard over distinct character n-grams via explode +
    pair-count aggregation: |A∩B| from a shingle equi-join, |A∪B| =
    |A|+|B|−|A∩B|. The shingle join is the scale limiter — use it as the
    verifier behind :func:`lsh_candidate_pairs` at size."""
    df = widen_small_input(df)
    sh = (df.select(F.col(id_col),
                    F.explode(F.array_distinct(
                        shingles_col(F.col(text_col), n))).alias("s")))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    l, r = sh.alias("l"), sh.alias("r")
    inter = (l.join(r, (F.col("l.s") == F.col("r.s"))
                    & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
             .groupBy(F.col(f"l.{id_col}").alias("id_a"),
                      F.col(f"r.{id_col}").alias("id_b"))
             .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard",
                        F.round(F.col("n_common")
                                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                                6))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_near_duplicates(df: DataFrame, vec_col: str = "embedding",
                              id_col: str = "vec_id",
                              threshold: float = 0.95,
                              block_col: str | None = None) -> DataFrame:
    """Pairs with cosine ≥ threshold. ``block_col`` (e.g. an LSH bucket or a
    label) restricts the self-join to blocks — without it this is the O(n²)
    exact variant for verification scale."""
    norm = F.sqrt(F.aggregate(F.col(vec_col), F.lit(0.0),
                              lambda a, x: a + x.cast("double") * x))
    base = df.select(F.col(id_col), F.col(vec_col).alias("v"),
                     norm.alias("nrm"),
                     *([F.col(block_col).alias("blk")] if block_col else []))
    l, r = base.alias("l"), base.alias("r")
    cond = F.col(f"l.{id_col}") < F.col(f"r.{id_col}")
    if block_col:
        cond = cond & (F.col("l.blk") == F.col("r.blk"))
    dot = F.aggregate(
        F.zip_with(F.col("l.v"), F.col("r.v"),
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return (l.join(r, cond)
            .select(F.col(f"l.{id_col}").alias("id_a"),
                    F.col(f"r.{id_col}").alias("id_b"),
                    F.round(dot / (F.col("l.nrm") * F.col("r.nrm")), 6)
                    .alias("cosine"))
            .filter(F.col("cosine") >= threshold))


# ---------------------------------------------------------------------------
# Generic 64-bit Hamming near-dup (image phash dedup)
# ---------------------------------------------------------------------------

def hamming_near_dup_pairs(df: DataFrame, id_col: str, hash_col: str,
                           bits: int = 64, band_bits: int = 16,
                           max_hamming: int = 2,
                           max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs over an integer fingerprint column (e.g. the image
    table's 64-bit perceptual ``phash``) by banded Hamming search.

    Pigeonhole: two hashes within Hamming distance ``bands - 1`` share at
    least one identical band, so an equi-join on (band index, band value)
    finds every candidate with distance ≤ bands−1 ≥ ``max_hamming``; the
    exact ``bit_count(xor)`` then verifies. The join moves only
    (band, key, id, hash) tuples — never payloads — and each band key is a
    uniform ``band_bits``-bit slice, so bucket sizes stay near 1 at any
    corpus size: the same bucketed design as MinHash-LSH (dedup for text)
    applied to the image axis. Requires ``max_hamming < bits/band_bits``.
    """
    assert max_hamming < bits // band_bits, \
        "pigeonhole needs max_hamming < n_bands"
    banded = hamming_banded_keys(
        widen_small_input(df).select(F.col(id_col),
                                     F.col(hash_col).alias("_h")),
        id_col, "_h", bits, band_bits)
    pairs = guarded_band_pairs(banded, id_col, max_bucket, hash_col="_h",
                               distinct=False)
    out = (pairs.select(
        "id_a", "id_b",
        F.bit_count(F.col("hash_a").bitwiseXOR(F.col("hash_b")))
        .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct())
    out.hot_bucket_observation = pairs.hot_bucket_observation
    return out


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over candidate pairs + keeper cut
# ---------------------------------------------------------------------------

def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014): every node connects its strictly-LARGER
    neighbors to its neighborhood minimum. Input/output edges are canonical
    ``(hi, lo)`` with hi > lo."""
    sym = (edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
           .unionAll(edges.select(F.col("lo").alias("u"),
                                  F.col("hi").alias("v"))))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), m.alias("lo"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star round: every node connects its smaller neighbors (and
    itself) to the minimum of that set. Canonical (hi, lo) in and out."""
    mins = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    leaves = (edges.join(mins, "hi")
              .filter(F.col("lo") != F.col("m"))
              .select(F.col("lo").alias("hi"), F.col("m").alias("lo")))
    centers = mins.select("hi", F.col("m").alias("lo"))
    return leaves.unionByName(centers).distinct()


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iters: int = 50,
                         algorithm: str = "star") -> tuple[DataFrame, int]:
    """Connected components over an edge list → ((member, label), rounds).

    ``algorithm="star"`` (default): alternating large-star/small-star
    contraction — O(log n) rounds on high-diameter graphs (a path graph
    contracts logarithmically, where plain label propagation needs
    diameter rounds), two shuffle jobs per round. The fixed point is a set
    of stars: every node holds exactly the edge (node, component-min).

    ``algorithm="label"``: iterative min-label propagation (rounds ≈
    diameter) — fine for the small dense clusters near-dup banding emits,
    kept for differential testing.

    Both loops cut lineage per round with localCheckpoint and ride their
    convergence check on the SAME materialization via ``Observation`` —
    no separate count job per round. The star loop's (count, hash-sum)
    signature match triggers one exact anti-join verification before
    declaring the fixed point, so convergence is never declared on a hash
    collision.
    """
    from pyspark.sql import Observation
    edges0 = (pairs
              .select(F.greatest(F.col(id_a), F.col(id_b)).alias("hi"),
                      F.least(F.col(id_a), F.col(id_b)).alias("lo"))
              .filter(F.col("hi") != F.col("lo"))
              .distinct()
              .localCheckpoint(eager=True))

    if algorithm == "label":
        return _label_components(edges0, max_iters)

    edges = edges0
    prev_sig = None
    rounds = 0
    converged = False
    for _ in range(max_iters):
        obs = Observation()
        stepped = (_small_star(_large_star(edges))
                   .observe(obs,
                            F.count(F.lit(1)).alias("n"),
                            # xor-fold: order-independent, overflow-free
                            # (ANSI sum() of hashes overflows long)
                            F.bit_xor(F.xxhash64("hi", "lo")).alias("h"))
                   .localCheckpoint(eager=True))
        rounds += 1
        sig = (obs.get["n"], obs.get["h"])
        if sig == prev_sig:
            # exact fixed-point verification (hash-sum equality is evidence,
            # not proof): both sides are distinct sets of equal size, so
            # emptiness of one anti-join proves set equality.
            if stepped.join(edges, ["hi", "lo"], "left_anti").limit(1) \
                    .count() == 0:
                edges = stepped
                converged = True
                break
        prev_sig = sig
        edges = stepped
    if not converged:
        # returning silently here would hand dedup labels that are NOT
        # component minima — corrupt output with no signal. Log-round
        # contraction makes the default budget ample (a path of 10^15
        # nodes converges in < 50 star rounds), so exhaustion means a
        # pathological input or a bug: fail loudly.
        raise RuntimeError(
            f"connected_components did not reach a verified fixed point "
            f"in {max_iters} star rounds; raise max_iters")
    members = edges.select(F.col("hi").alias("member"),
                           F.col("lo").alias("label"))
    centers = edges.select(F.col("lo").alias("member")).distinct() \
        .withColumn("label", F.col("member"))
    return members.unionByName(centers), rounds


def _label_components(edges0: DataFrame,
                      max_iters: int) -> tuple[DataFrame, int]:
    """Min-label propagation (the round-2 path), with the changed-count
    riding the per-round checkpoint as an observed metric instead of a
    separate join+count job."""
    from pyspark.sql import Observation
    edges = (edges0.select(F.col("hi").alias("a"), F.col("lo").alias("b"))
             .unionAll(edges0.select(F.col("lo").alias("a"),
                                     F.col("hi").alias("b"))))
    labels = (edges.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    rounds = 0
    for _ in range(max_iters):
        neighbor_min = (edges.join(labels, edges["b"] == labels["node"])
                        .groupBy("a")
                        .agg(F.min("label").alias("nbr_label")))
        new_label = F.least(F.col("label"),
                            F.coalesce(F.col("nbr_label"), F.col("label")))
        obs = Observation()
        new_labels = (labels.join(neighbor_min,
                                  labels["node"] == neighbor_min["a"], "left")
                      .select(F.col("node"), new_label.alias("new_label"),
                              # min-labels only decrease: strict < is exact
                              (new_label < F.col("label")).cast("long")
                              .alias("_chg"))
                      .observe(obs, F.sum("_chg").alias("changed"))
                      .select(F.col("node"),
                              F.col("new_label").alias("label"))
                      .localCheckpoint(eager=True))
        rounds += 1
        labels = new_labels
        if not obs.get["changed"]:
            break
    else:
        raise RuntimeError(
            f"label propagation still changing after {max_iters} rounds "
            f"(graph diameter exceeds the budget); raise max_iters or use "
            f"algorithm='star'")
    return labels.select(F.col("node").alias("member"),
                         F.col("label")), rounds


def dedup_groups(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                 max_iters: int = 50, algorithm: str = "star") -> DataFrame:
    """Connected components over near-dup pairs → (member, group) where
    ``group`` is the minimum member id of the component.

    A 100 TB dedup pipeline needs clusters, not pairs: MinHash-LSH / phash
    banding emit edges; the keep-one-per-cluster cut needs the transitive
    closure. Default is the large-star/small-star contraction
    (:func:`connected_components`) — logarithmic rounds, so long chains
    (the failure mode of diameter-bound label propagation) converge well
    inside ``max_iters``."""
    labels, _ = connected_components(pairs, id_a, id_b, max_iters, algorithm)
    return labels.select("member", F.col("label").alias("group"))


def drop_near_duplicates(df: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """Keep one representative per near-dup cluster (the minimum id — the
    group label) plus every row that is in no cluster. The anti-join moves
    only ids; payloads are never shuffled."""
    groups = dedup_groups(pairs)
    losers = groups.filter(F.col("member") != F.col("group")) \
        .select(F.col("member").alias(id_col))
    return df.join(losers, id_col, "left_anti")
