"""Deduplication operators for training-data pipelines.

All Spark-first: exact dedup is a hash groupBy; MinHash-LSH and SimHash
compute signatures in ONE Arrow-vectorized mapInPandas pass (per-byte
work is numpy over flat buffers — no per-row Python loops), then use
plain DataFrame explode/groupBy/join for banding, so the candidate
generation shuffles only (id, band_hash) pairs — never raw text.

Scale notes (100 TB): signatures are ~0.5 KB/row vs multi-KB documents,
so the LSH shuffle moves ~1% of input bytes; band-bucket join skew (a
degenerate bucket holding half the corpus, e.g. empty documents) is
bounded by `max_bucket`, which drops pathological buckets — the standard
guardrail for minhash, whose band values are hash-sized so ordinary
buckets stay small at any corpus size. Hyperplane band values have fixed
cardinality 2^bits, so there the knob is bits_per_band, not a cap (see
cosine_lsh_pairs).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

_MERSENNE = (1 << 61) - 1


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", by_hash: bool = False
) -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the kept
    (minimum) id and the duplicate count.

    by_hash=True is the 100 TB path: group by (xxhash64(text),
    length(text)) so the shuffle carries ~16 bytes/row instead of the
    full documents; collision probability ~n^2/2^65 (two texts must
    collide in BOTH hash and length). Output contract is identical, so
    the same oracle checks both paths."""
    if by_hash:
        key = [F.xxhash64(F.col(text_col)).alias("_h"), F.length(text_col).alias("_l")]
        return (
            df.groupBy(*key)
            .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
            .select("keep_id", "dup_count")
        )
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count")
    ).drop(text_col).select("keep_id", "dup_count")


def exact_dedup_filter(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keep only the lowest-id row of each exact-text duplicate group —
    the filter-shaped twin of exact_dedup (which reports groups).

    One window (`row_number` over text, ordered by id) instead of
    aggregate + self-semi-join: the input is scanned ONCE and shuffled
    once, where the join formulation scans and shuffles the (possibly
    expensively derived) input twice. Worth it whenever the frame being
    deduped is the output of real work (scoring, parsing), not a bare
    table scan."""
    from pyspark.sql import Window

    w = Window.partitionBy(text_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_dd_rn", F.row_number().over(w))
        .filter(F.col("_dd_rn") == 1)
        .drop("_dd_rn")
    )


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, num_perm, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, num_perm, dtype=np.int64)
    return a, b


_M61 = np.uint64(_MERSENNE)
_MASK32 = np.uint64(0xFFFFFFFF)


def _mulmod_m61(a: np.uint64, x: np.ndarray) -> np.ndarray:
    """Exact (a * x) mod (2^61 - 1) for a scalar a < 2^61-1 and a uint64
    vector x < 2^61-1, entirely in uint64 numpy.

    A plain `(a * x) % M` wraps mod 2^64 BEFORE the mod-M reduction, so
    the resulting map is neither the intended universal hash nor even
    uniform — it biased MinHash similarity estimates upward (r4 verdict).
    Split both operands into 32-bit limbs so every partial product fits
    in 64 bits, then fold the limb weights through 2^61 ≡ 1 (mod M):
      a*x = hh·2^64 + mid·2^32 + ll,  2^64 ≡ 2^3,
      mid·2^32 = (mid >> 29)·2^61 + (mid & (2^29-1))·2^32
               ≡ (mid >> 29) + (mid_lo << 32),
    every addend < 2^61, the sum < 2^63, and two Mersenne fast-reduction
    rounds (z = (z & M) + (z >> 61)) land in [0, M].
    """
    a = np.uint64(a)
    a_hi, a_lo = a >> np.uint64(32), a & _MASK32
    x_hi, x_lo = x >> np.uint64(32), x & _MASK32
    hh = a_hi * x_hi  # <= 2^58, carries weight 2^64 ≡ 8 (mod M)
    mid = a_hi * x_lo + a_lo * x_hi  # <= 2^62, carries weight 2^32
    ll = a_lo * x_lo  # < 2^64, weight 1 — reduce before summing
    s = (
        (hh << np.uint64(3))
        + (mid >> np.uint64(29))
        + ((mid & np.uint64((1 << 29) - 1)) << np.uint64(32))
        + (ll & _M61)
        + (ll >> np.uint64(61))
    )
    s = (s & _M61) + (s >> np.uint64(61))
    s = (s & _M61) + (s >> np.uint64(61))
    return np.where(s >= _M61, s - _M61, s)


def _affine_mod_m61(a: int, b: int, x: np.ndarray) -> np.ndarray:
    """(a*x + b) mod (2^61-1) — the universal hash behind each MinHash
    'permutation', exact for all a, b, x in [0, 2^61-1)."""
    h = _mulmod_m61(a, x) + np.uint64(b)  # < 2*M, fits uint64
    h = (h & _M61) + (h >> np.uint64(61))
    return np.where(h >= _M61, h - _M61, h)


def _shingle_hashes(texts: pd.Series, k: int) -> tuple[np.ndarray, np.ndarray]:
    """All k-byte-shingle hashes for a batch, via flat-buffer stride
    tricks: returns (hashes:int64[n_shingles_total], row_offsets).
    Rows shorter than k get one sentinel shingle (hash of whole row)."""
    import pyarrow as pa

    arr = pa.array(texts.fillna("").astype(str), type=pa.string())
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int32)[: n + 1].astype(np.int64)
    buf = (
        np.frombuffer(arr.buffers()[2], dtype=np.uint8)[: offs[-1]]
        if arr.buffers()[2] is not None
        else np.empty(0, np.uint8)
    )
    lens = np.diff(offs)
    n_sh = np.maximum(lens - k + 1, 1)
    row_off = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(n_sh, out=row_off[1:])

    # Polynomial rolling hash of every k-gram in the flat buffer, then a
    # gather drops the k-grams that straddle row boundaries. FNV-style
    # uint64 wraparound is the hash's definition, not an accident —
    # errstate keeps numpy from logging one RuntimeWarning per executor
    # task at scale.
    with np.errstate(over="ignore"):
        if buf.size >= k:
            h = np.zeros(buf.size - k + 1, dtype=np.uint64)
            p = np.uint64(1099511628211)
            for j in range(k):  # k tiny (5-9): k vectorized passes
                h = h * p + buf[j : buf.size - k + 1 + j].astype(np.uint64)
        else:
            h = np.zeros(1, dtype=np.uint64)

        out = np.empty(int(row_off[-1]), dtype=np.uint64)
        for i in range(n):  # O(rows) slicing, per-byte work vectorized
            s, e = offs[i], offs[i + 1]
            if lens[i] >= k:
                out[row_off[i] : row_off[i + 1]] = h[s : s + lens[i] - k + 1]
            else:  # short row: hash available bytes as one sentinel shingle
                acc = np.uint64(14695981039346656037)
                for bb in buf[s:e]:
                    acc = acc * np.uint64(1099511628211) + np.uint64(bb)
                out[row_off[i]] = acc
    return out.astype(np.int64), row_off


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, signature:array<long>) — one vectorized pass."""
    a, b = _perm_params(num_perm, seed)
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType, False),
            T.StructField("signature", T.ArrayType(T.LongType()), False),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if len(batch) == 0:
                continue
            hashes, row_off = _shingle_hashes(batch[text_col], shingle_k)
            x = hashes.astype(np.uint64) % np.uint64(_MERSENNE)
            starts = row_off[:-1]
            sigs = np.empty((len(batch), len(a)), dtype=np.int64)
            for j in range(len(a)):  # num_perm vectorized passes
                hj = _affine_mod_m61(int(a[j]), int(b[j]), x)
                sigs[:, j] = np.minimum.reduceat(hj, starts).astype(np.int64)
            yield pd.DataFrame(
                {id_col: batch[id_col].reset_index(drop=True), "signature": list(sigs)}
            )

    return df.select(id_col, text_col).mapInPandas(fn, schema=schema)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket: int = 1000,
    verify: str | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, est_jaccard).

    signature -> band hashes -> explode -> self-join per bucket ->
    estimate Jaccard as the fraction of equal minhash components.
    max_bucket caps degenerate buckets (skew guardrail).

    verify="exact" (round 5): instead of thresholding the +-1/num_perm-
    quantized estimate, join the banding candidates back to their texts
    and compute the TRUE shingle-set Jaccard in one vectorized pass,
    thresholding that. The emitted pair set then no longer depends on
    num_perm (signatures only gate candidate RECALL via banding), so
    num_perm can drop to 16 for 4x cheaper signatures without admitting
    a single false positive. Scale: candidates after banding are a tiny
    fraction of the corpus, so the two text joins are broadcast-side
    (AQE) and the exact pass touches candidate pairs only, never n^2.
    """
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k, seed)
    # Put the signatures behind ONE explicit exchange. The banding
    # self-join's l/r branches and the bucket-size aggregate each
    # re-plan the whole signature subtree (4 static MapInPandas nodes;
    # 3 survived runtime exchange reuse), so the Python shingle+permute
    # pass over the corpus ran three times per query. With a round-robin
    # shuffle on the (id, signature) proxy (~num_perm*8 B/row — far
    # under the text bytes, the "shuffle the lightweight proxy" trade)
    # the self-join's l/r branches become identical Exchanges over the
    # same child and share one shuffle output, so the pass runs twice,
    # not three times: the bucket-size aggregate still materializes its
    # own copy across the broadcast boundary. Signatures are a pure
    # per-row function, so the result is partitioning-invariant.
    sigs = sigs.repartition(df.sparkSession.sparkContext.defaultParallelism)
    banded = sigs.select(
        F.col(id_col),
        F.col("signature"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.xxhash64(F.slice("signature", i * rows_per_band + 1, rows_per_band)),
            )
        ).alias("band_idx", "band_hash"),
    )
    # Skew guardrail: drop pathological buckets via a PARTIAL-AGGREGATED
    # groupBy + join. Deliberately NOT a count() window: WindowExec must
    # buffer each (band_idx, band_hash) partition on one task before the
    # filter can drop it, so the guardrail itself would pay the
    # O(|bucket|) single-task cost it exists to prevent on exactly the
    # degenerate buckets (half the corpus empty/boilerplate) it guards
    # against. The groupBy collapses those buckets map-side to one row
    # per input partition, and the skewed probe side of the join is a
    # plain shuffle AQE can split; the l/r pair self-join below shares
    # its exchange at runtime (AQE ReusedExchange), so signatures run
    # twice, never per-branch.
    bucket_sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("_bs")
    )
    banded = banded.join(
        bucket_sizes.filter(F.col("_bs") <= max_bucket).drop("_bs"),
        on=["band_idx", "band_hash"],
        how="inner",
    )
    l = banded.select(
        F.col("band_idx"), F.col("band_hash"),
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"),
    )
    r = banded.select(
        F.col("band_idx"), F.col("band_hash"),
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"),
    )
    # est is a pure function of the two signatures, so every duplicate
    # of a pair (a near-dup pair surfaces in MOST of its bands) carries
    # the same value — computing it BEFORE dropDuplicates lets the
    # dedup exchange carry (id_a, id_b, est) at ~30 B/row instead of
    # two num_perm-long signature arrays (~10x the bytes; measured 18 s
    # of JVM CPU in the join+dedup stage at sf0.1's ~1.1M pre-dedup
    # candidates). Result-identical: dropDuplicates keeps an arbitrary
    # copy, but all copies agree on est.
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(num_perm)
    pairs = (
        l.join(r, on=["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", est.cast("double").alias("_est"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify is None:
        return (
            pairs.withColumnRenamed("_est", "est_jaccard")
            .filter(F.col("est_jaccard") >= threshold)
            .select("id_a", "id_b", F.round("est_jaccard", 4).alias("est_jaccard"))
        )
    if verify != "exact":
        raise ValueError(f"verify must be None or 'exact', got {verify!r}")

    # AQE coalesces the post-dedup exchange by BYTES (~30 B/pair), but
    # the downstream exact-verify stage pays Python shingle work per
    # PAIR — a bytes-coalesced 8-partition layout serialized the verify
    # on a fraction of the cores. Spread the (tiny) candidate rows to
    # the session's parallelism before the text joins; the pair set and
    # every downstream value are partitioning-invariant.
    cand = pairs.select(
        "id_a", "id_b", F.round("_est", 4).alias("est_jaccard")
    ).repartition(df.sparkSession.sparkContext.defaultParallelism)
    texts = df.select(id_col, text_col)
    joined = cand.join(
        texts.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("_ta")),
        on="id_a",
    ).join(
        texts.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("_tb")),
        on="id_b",
    )
    out_schema = T.StructType(
        [
            joined.schema["id_a"],
            joined.schema["id_b"],
            T.StructField("est_jaccard", T.DoubleType(), True),
            T.StructField("jaccard", T.DoubleType(), False),
        ]
    )

    def exact_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Exact Jaccard over HASHED shingle sets (same 64-bit polynomial
        # rolling hash as the signatures): set identity survives hashing
        # up to 64-bit collisions, negligible at any per-document shingle
        # count (~m^2/2^64 per pair).
        #
        # Each document appears in MANY candidate pairs, so its
        # sorted-unique shingle set is memoized per task instead of
        # re-hashed + re-sorted per pair (the old per-pair
        # unique+intersect1d loop re-sorted both sides of every pair —
        # O(pairs * n log n); this is O(docs * n log n) prep plus an
        # O(min * log max) searchsorted merge per pair). Same sets,
        # same inter/union arithmetic, bit-identical jaccard.
        sets: dict = {}

        def _prime(ids: np.ndarray, texts: pd.Series) -> None:
            new_pos, seen = [], set()
            for i, d in enumerate(ids):
                if d not in sets and d not in seen:
                    seen.add(d)
                    new_pos.append(i)
            if not new_pos:
                return
            h, off = _shingle_hashes(texts.iloc[new_pos], shingle_k)
            for j, i in enumerate(new_pos):
                sets[ids[i]] = np.unique(h[off[j] : off[j + 1]])

        for batch in batches:
            if len(batch) == 0:
                continue
            ids_a = batch["id_a"].to_numpy()
            ids_b = batch["id_b"].to_numpy()
            _prime(ids_a, batch["_ta"])
            _prime(ids_b, batch["_tb"])
            n = len(batch)
            # Bucket cliques make candidate pairs cluster on id_b
            # (every member of an m-doc bucket pairs with ~m others), so
            # the per-pair python overhead — dict lookups plus one
            # searchsorted call per pair, measured ~56us/pair at 1M
            # candidates — is hoisted to per-GROUP: sort pairs by id_b,
            # concatenate the memoized sorted id_a sets of each group,
            # intersect them against the shared sb with ONE searchsorted,
            # and split the match counts back per pair with add.reduceat.
            # Same sets, same integer inter/union arithmetic —
            # bit-identical jaccard (pinned by the equivalence test).
            order = np.argsort(ids_b, kind="stable")
            inter = np.empty(n, dtype=np.int64)
            size_a = np.empty(n, dtype=np.int64)
            size_b = np.empty(n, dtype=np.int64)
            ob = ids_b[order]
            bounds = np.flatnonzero(
                np.concatenate(([True], ob[1:] != ob[:-1], [True]))
            )
            for gi in range(bounds.size - 1):
                s, e = int(bounds[gi]), int(bounds[gi + 1])
                sb = sets[ob[s]]
                pos = order[s:e]
                seg_sets = [sets[d] for d in ids_a[pos]]
                lens = np.fromiter(
                    (x.size for x in seg_sets), dtype=np.int64, count=e - s
                )
                cat = np.concatenate(seg_sets) if len(seg_sets) > 1 else seg_sets[0]
                idx = np.searchsorted(sb, cat)
                # clip instead of masking: a clipped probe compares cat
                # against sb's last element, which cannot equal it (cat
                # value > every sb value exactly when idx == sb.size)
                np.minimum(idx, sb.size - 1, out=idx)
                good = (sb[idx] == cat).astype(np.int64)
                starts = np.zeros(e - s, dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                inter[pos] = np.add.reduceat(good, starts)
                size_a[pos] = lens
                size_b[pos] = sb.size
            union = size_a + size_b - inter
            jac = np.where(union > 0, inter / np.maximum(union, 1), 1.0)
            yield pd.DataFrame(
                {
                    "id_a": batch["id_a"].reset_index(drop=True),
                    "id_b": batch["id_b"].reset_index(drop=True),
                    "est_jaccard": batch["est_jaccard"].reset_index(drop=True),
                    "jaccard": jac,
                }
            )

    return (
        joined.mapInPandas(exact_fn, schema=out_schema)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard", F.round("jaccard", 6).alias("jaccard"))
    )


def _simhash_tokens(text_col: str) -> Column:
    """Non-empty whitespace tokens — the shared tokenization both engines
    reproduce (text.ws_tokens: regexp split on \\s+, empties dropped,
    NULL-safe so NULL-text docs keep their simhash=0 row)."""
    from .text import ws_tokens

    return ws_tokens(text_col)


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", seed: int = 42
) -> DataFrame:
    """64-bit SimHash over whitespace tokens (id, simhash:long).

    Token hash = first 16 hex chars of md5('sh{seed}:' || token) read as
    a signed 64-bit int. md5 (over an earlier Python-side siphash)
    because every SQL engine shares it, so signatures — and the
    downstream Hamming cut — are independently recomputable: the
    simhash_pairs DuckDB oracle rebuilds the exact bit votes from the
    same md5 hex digits.

    Shape is pure JVM whole-stage codegen, no Python anywhere: explode
    tokens -> ONE hash aggregate with 64 conditional bit-sums (partial
    aggregation means the shuffle carries one 65-long row per doc per
    map partition, never tokens) -> majority vote per bit (strict: ones
    > n/2). Zero-token docs (empty/whitespace-only text) re-enter as
    simhash=0 via a second column-pruned scan + union — cheaper than a
    corpus-wide join for an edge case."""
    prefix = F.lit(f"sh{seed}:")
    toks = df.select(
        F.col(id_col), F.explode(_simhash_tokens(text_col)).alias("tok")
    ).select(
        id_col,
        F.conv(F.substring(F.md5(F.concat(prefix, F.col("tok"))), 1, 16), 16, -10)
        .cast("long")
        .alias("h"),
    )
    bit_sums = [
        F.sum(F.shiftrightunsigned(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(64)
    ]
    g = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"), *bit_sums)
    sig = None
    for b in range(64):
        # bit 63 is the sign bit: its weight is long-min, and the partial
        # sum of bits 0..62 peaks at 2^63-1, so the running total never
        # overflows (ANSI mode would raise if it did)
        w = F.lit(-(1 << 63)) if b == 63 else F.lit(1 << b)
        term = F.when(F.col(f"c{b}") * 2 > F.col("n"), w).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    signed = g.select(F.col(id_col), sig.cast("long").alias("simhash"))
    empties = df.filter(F.size(_simhash_tokens(text_col)) == 0).select(
        F.col(id_col), F.lit(0).cast("long").alias("simhash")
    )
    return signed.unionByName(empties)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Pairs within Hamming distance via the 4x16-bit band trick
    (distance <= 3 guarantees at least one identical 16-bit block)."""
    sigs = simhash_signatures(df, id_col, text_col, seed)
    banded = sigs.select(
        id_col, "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), b * 16).bitwiseAND(F.lit(0xFFFF))
                for b in range(4)
            ])
        ).alias("block_idx", "block"),
    )
    l = banded.select("block_idx", "block", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    r = banded.select("block_idx", "block", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    pairs = (
        l.join(r, on=["block_idx", "block"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


def hyperplane_bands(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """(id, band_idx, band_val): random-hyperplane LSH band values.

    One mapInPandas pass: sign bits of X @ H (H = seeded Gaussian,
    bands*bits_per_band hyperplanes, built deterministically per batch
    from (seed, dim)), packed per band into an integer. Emits the
    exploded (id, band) rows directly, so the band join shuffles ~16
    bytes/row/band — never the vectors."""
    schema = T.StructType(
        [
            T.StructField(id_col, df.schema[id_col].dataType, False),
            T.StructField("band_idx", T.IntegerType(), False),
            T.StructField("band_val", T.LongType(), False),
        ]
    )
    n_bits = bands * bits_per_band
    weights = (np.uint64(1) << np.arange(bits_per_band, dtype=np.uint64)).astype(np.int64)
    # NULL embeddings (failed upstream encodes) would abort the whole stage
    # at np.vstack; they can never be near-duplicates, so drop them here —
    # the zero-norm cosine guard below handles the other failure shape
    # (all-zero vectors), which DOES band.
    df = df.filter(F.col(vec_col).isNotNull())

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        H = None
        for b in batches:
            if len(b) == 0:
                continue
            mat = np.vstack(b[vec_col].to_numpy()).astype(np.float64)
            if H is None or H.shape[1] != mat.shape[1]:
                H = np.random.default_rng(seed).normal(size=(n_bits, mat.shape[1]))
            bits = (mat @ H.T) > 0  # (n, n_bits)
            vals = (
                bits.reshape(len(b), bands, bits_per_band).astype(np.int64) * weights
            ).sum(axis=2)  # (n, bands)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(b[id_col].to_numpy(), bands),
                    "band_idx": np.tile(np.arange(bands, dtype=np.int32), len(b)),
                    "band_val": vals.ravel(),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(fn, schema=schema)


def cosine_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits_per_band: int = 8,
    bands: int = 16,
    seed: int = 42,
    max_bucket: int | None = None,
    multiprobe: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine) at
    scale: random-hyperplane signatures -> band-bucket self-join (same
    machinery as the simhash band trick) -> EXACT cosine recomputed
    JVM-side (zip_with/aggregate, whole-stage codegen) for candidates
    only, thresholded on the raw value (rounded only for output).

    Fully distributed: no driver-side collect anywhere; only
    (id, band_idx, band_val) rows cross the candidate shuffle, and the
    two vector lookups are scans joined on id. Recall per pair at
    cosine c is 1-(1-p^r)^b with p = 1 - acos(c)/pi: the r=8, b=16
    default gives ~0.9999 at c=0.95; for lower thresholds use narrower,
    more numerous bands (e.g. r=4, b=64 covers c~0.45).

    SIZING RULE (unlike minhash, band values here have FIXED cardinality
    2^r, so expected bucket size is n/2^r and grows with the corpus):
    pick bits_per_band >= log2(n_rows / target_bucket_rows) — e.g. 10^9
    rows with ~1k-row buckets needs r >= 20 (int64 band values support
    up to 62 bits). max_bucket is therefore None by default: a cap with
    undersized r would silently drop EVERY bucket at scale and return no
    pairs. Set it only to shed known-degenerate keys (e.g. all-zero
    vectors concentrating in one bucket) once r is sized to the corpus.

    multiprobe=True additionally probes every 1-bit-flip neighbor of
    each band value on ONE join side (a pure JVM explode over r
    synthesized values — the signature UDF is untouched), so two rows
    collide when a band differs by at most one sign bit. Per-pair
    collision probability rises from p^r to p^r + r*p^(r-1)*(1-p): with
    p = 1 - acos(c)/pi, a c=0.9 pair under r=12,b=2 goes from ~28% per
    band to ~65% — the standard recall/cost dial when adding bands
    (more shuffle rows EVERYWHERE) is worse than widening probes on the
    build side (r+1 x rows on one side only).
    """
    banded = hyperplane_bands(df, id_col, vec_col, bits_per_band, bands, seed)
    if max_bucket is not None:
        bucket_sizes = banded.groupBy("band_idx", "band_val").agg(
            F.count(F.lit(1)).alias("bs")
        )
        banded = banded.join(
            bucket_sizes.filter(F.col("bs") <= max_bucket).drop("bs"),
            on=["band_idx", "band_val"],
            how="inner",
        )
    if multiprobe:
        probes = F.array(
            F.col("band_val"),
            *[
                F.col("band_val").bitwiseXOR(F.lit(1 << p))
                for p in range(bits_per_band)
            ],
        )
        probed = banded.select(
            id_col, "band_idx", F.explode(probes).alias("band_val")
        )
    else:
        probed = banded
    l = banded.select("band_idx", "band_val", F.col(id_col).alias("id_a"))
    r = probed.select("band_idx", "band_val", F.col(id_col).alias("id_b"))
    cand = (
        l.join(r, on=["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda a, b: a.cast("double") * b.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    # Zero-norm guard: 0/0 is NaN, and Spark ranks NaN ABOVE every double,
    # so an unguarded NaN >= threshold is TRUE — zero vectors (failed or
    # padded embeddings) would be emitted as near-duplicates of anything
    # they band with. Define their cosine as 0 (the exact path's rule).
    na2 = dot(F.col("va"), F.col("va"))
    nb2 = dot(F.col("vb"), F.col("vb"))
    cos = F.when(
        (na2 > 0) & (nb2 > 0),
        dot(F.col("va"), F.col("vb")) / F.sqrt(na2 * nb2),
    ).otherwise(F.lit(0.0))
    return (
        pairs.filter(cos >= threshold)  # raw value decides membership
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Apply a near-dup pair set to the corpus: keep-lowest-id policy —
    any row whose id appears as id_b in a pair (pair ops guarantee
    id_a < id_b) is dropped. One distinct + left_anti join; the drop
    list is tiny relative to the corpus (near-dup fraction), so AQE
    broadcasts it and the corpus scan stays shuffle-free.

    At high thresholds near-dup clusters are cliques, so every member
    except the minimum id pairs with it and whole clusters collapse to
    one survivor; for chain-shaped (non-transitive) pair sets this keeps
    strictly more than one representative per chain — the standard
    cheap policy vs. full connected components."""
    drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    group_col: str | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Exact word-n-gram Jaccard similarity for candidate pairs.

    Pure DataFrame ops: explode distinct n-grams -> inverted-index join
    -> |A∩B| per pair -> Jaccard from per-doc distinct counts. Scoped to
    group_col (e.g. same source) to bound the join at scale.

    max_df is the stopgram guard for the inverted-index join: a gram
    appearing in more than max_df documents contributes O(df^2) join
    rows while carrying almost no similarity signal (it's a stopword
    phrase); dropping it bounds the join at the cost of slightly
    UNDERestimating Jaccard for pairs sharing that gram (denominator
    counts are taken before the cut, so scores only shrink — a pair can
    be missed near the threshold, never invented). None (default)
    computes the exact value and matches the SQL oracle."""
    # Docs with fewer than n words contribute NO grams (the F.when guard:
    # explode of a NULL array emits no rows) — without it, sequence(0, 0)
    # yields one sub-n-word "gram" per short doc, which the exact
    # generate_series-based oracle never produces.
    from .text import ws_tokens

    ws = ws_tokens(text_col)
    grams = df.select(
        F.col(id_col),
        *( [F.col(group_col)] if group_col else [] ),
        F.explode(
            F.when(
                F.size(ws) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(ws) - n),
                        lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
                    )
                ),
            )
        ).alias("gram"),
    )
    sizes = grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    if max_df is not None:
        doc_freq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("_df"))
        grams = grams.join(
            doc_freq.filter(F.col("_df") <= max_df).drop("_df"), on="gram", how="inner"
        )
    join_keys = ["gram"] + ([group_col] if group_col else [])
    l = grams.select(*join_keys, F.col(id_col).alias("id_a"))
    r = grams.select(*join_keys, F.col(id_col).alias("id_b"))
    inter = (
        l.join(r, on=join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_grams").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame, id_col: str = "doc_id", max_iters: int = 50
) -> DataFrame:
    """Connected components of the near-dup pair graph: (id, component)
    where component = the minimum id reachable through pairs. Completes
    the keep-lowest-id policy for chain-shaped (non-transitive) pair
    sets, where drop_near_duplicates keeps >1 representative.

    Iterative min-label propagation, all DataFrame ops: each round every
    vertex takes the min of its own label and its neighbors' labels —
    one shuffle join + one aggregate per round, converging in
    O(diameter) rounds (dedup pair graphs are small-diameter clusters;
    a 50-round cap guards degenerate path graphs — for long-chain
    graphs use connected_components_twophase below, whose round count
    is O(log n), pytest-pinned on a 1000-link path). The label frontier is
    (id, long) rows only — never documents — and each round's result is
    localCheckpoint()ed: lineage stays O(1) instead of growing a plan
    tree per round (at cluster scale, swap for a reliable checkpoint
    dir). Convergence is detected by the monotone label-sum invariant:
    labels only ever decrease, so an unchanged sum(comp) means a fixed
    point — one cheap aggregate per round, no old-vs-new join. The sum
    runs in decimal(38,0): Spark's non-ANSI long sum wraps silently, and
    on a huge id space an overflow collision could in principle fake an
    unchanged sum before the true fixed point."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint()
    )
    _label_sum = F.sum(F.col("comp").cast("decimal(38,0)"))
    prev = labels.agg(_label_sum).collect()[0][0]
    for _ in range(max_iters):
        prop = edges.join(labels, edges["src"] == labels["id"]).select(
            F.col("dst").alias("id"), F.col("comp")
        )
        new = (
            labels.unionByName(prop)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint()
        )
        cur = new.agg(_label_sum).collect()[0][0]
        labels = new
        if cur == prev:
            break
        prev = cur
    return labels.select(F.col("id").alias(id_col), F.col("comp").alias("component"))


def connected_components_twophase(
    pairs: DataFrame, id_col: str = "doc_id", max_iters: int = 50
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same output contract as connected_components but
    converging in O(log n) rounds instead of O(diameter), which is the
    variant to reach for when the pair graph can contain long chains
    (plain min-label propagation needs ~1000 rounds on a 1000-link
    path; this needs ~log of that, pytest-pinned).

    Each round is two groupBy/join passes over the edge set only
    (16-byte (a, b) rows, never documents):

      large-star: group edges at BOTH endpoints; connect every strictly
        larger neighbor to min(neighborhood ∪ self).
      small-star: orient each edge to its larger endpoint; connect that
        endpoint and all its smaller neighbors to their minimum.

    The fixed point is the canonical star set {(node, component-min)}.
    Convergence is an exact edge-set comparison (count + one
    anti-join probe — no hashed-sum collision risk); exhausting
    max_iters without a fixed point raises instead of returning a
    silently-partial clustering."""
    ids = (
        pairs.select(F.col("id_a").alias("id"))
        .unionByName(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    E = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = E.count()
    converged = n_edges == 0
    for _ in range(max_iters):
        if converged:
            break
        sym = E.unionByName(E.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            sym.groupBy("a").agg(F.min("b").alias("_mn"))
            .select("a", F.least(F.col("_mn"), F.col("a")).alias("m"))
        )
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        ori = large.select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        mins2 = ori.groupBy("u").agg(F.min("v").alias("m"))
        new = (
            ori.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        n_new = new.count()
        converged = (
            n_new == n_edges
            and new.join(E, ["a", "b"], "left_anti").limit(1).count() == 0
        )
        E, n_edges = new, n_new
    if not converged:
        raise RuntimeError(
            f"two-phase connected components did not converge in {max_iters} "
            "rounds — raise max_iters"
        )
    labels = E.groupBy("a").agg(F.min("b").alias("component"))
    return ids.join(labels, ids["id"] == labels["a"], "left").select(
        F.col("id").alias(id_col),
        F.coalesce("component", "id").alias("component"),
    )


def _word_ngrams(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, gram): distinct word-n-grams per doc over the canonical
    tokenizer (empty edge tokens dropped — an edge-whitespace doc must
    not turn an n-1-word overlap into an n-gram match); docs with < n
    words contribute no rows (explode of the NULL array)."""
    from .text import ws_tokens

    ws = ws_tokens(text_col)
    return df.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(ws) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(ws) - n),
                        lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
                    )
                ),
            )
        ).alias("gram"),
    )


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    max_broadcast_grams: int | None = 1_000_000,
) -> DataFrame:
    """Benchmark decontamination: ids of TRAIN docs sharing any word-
    n-gram with any EVAL doc (the standard n-gram-overlap contamination
    test run before training on web corpora).

    Scale shape: eval sets are usually small (10^3-10^5 docs) next to a
    10^12-row corpus, so the distinct EVAL gram set is broadcast and the
    train side streams through a map-side hash semi-join — the corpus is
    scanned once, nothing about it shuffles, and the output is just the
    contaminated id set (drop with a second anti-join, same shape as
    drop_near_duplicates).

    A HUGE eval suite would OOM that broadcast, so the plan degrades
    instead: when the distinct exploded gram count exceeds
    ``max_broadcast_grams`` (~60-100 MB of broadcast at 1M grams; pass
    None to force broadcast AND keep the call fully lazy), the
    semi-join falls back to a plain shuffle sort-merge join on the raw
    gram strings — bigger shuffle rows than a hash key, but collision-
    free (a 64-bit gram hash could mark an innocent train doc
    contaminated). Both paths are equivalence-tested. Note the size
    probe is an EAGER job over the eval side at call time (adaptive
    plan choice can't be lazy), and the join recomputes the eval gram
    explode+distinct — deliberately NOT persisted: a persist here would
    leak executor storage for the session lifetime (nothing can
    unpersist after the caller's lazy join runs), and the eval side is
    the small side by contract."""
    train_grams = _word_ngrams(train, id_col, text_col, n)
    eval_grams = _word_ngrams(eval_df, id_col, text_col, n).select("gram").distinct()
    if max_broadcast_grams is not None:
        # bounded probe: eval_grams is the small side by assumption; the
        # limit caps the scan even when that assumption is wrong
        over = (
            eval_grams.limit(max_broadcast_grams + 1).count()
            > max_broadcast_grams
        )
        if over:
            joined = train_grams.join(
                eval_grams.hint("merge"), on="gram", how="left_semi"
            )
            return joined.select(id_col).distinct()
    return (
        train_grams.join(F.broadcast(eval_grams), on="gram", how="left_semi")
        .select(id_col)
        .distinct()
    )
