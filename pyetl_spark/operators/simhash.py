"""SimHash — 64-bit similarity fingerprints for near-dup detection
(north-star dedup family).

Charikar's scheme: each token votes ±1 on each of 64 bit positions
(direction = the token's hash bits); the document's simhash is the sign
vector. Hamming-close simhashes ⇒ similar token multisets. Detection cost
is linear: band the 64 bits into 4×16-bit keys (pigeonhole: hamming <= 3
⇒ at least one identical band) and self-join per band.

Fingerprinting (``simhash_df``) is row-local and shuffles nothing: the
JVM hashes each token in place (``transform`` over the token array,
xxhash64 by default), and one ``mapInArrow`` numpy kernel, a
``pyworker.worker_entry`` function, turns each row's hash list into its
64 bit-majorities. Banding (``hamming_band_pairs``) is JVM-only. The
Column form ``simhash`` computes the same fingerprint as one JVM
higher-order fold per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pyetl_spark.operators.pyworker import worker_entry

_BITS = 64


_MASKS = [(1 << j) if j < 63 else -(1 << 63) for j in range(_BITS)]


def simhash(tokens_col: Column) -> Column:
    """Column: bigint simhash of a token array.

    Majority form: bit j of the simhash is set iff more than half the
    tokens have bit j set in their hash (±1 voting ⇔ majority). Computed
    as one fold carrying 64 set-bit counters + the token count — the
    counter update is a flat bitwiseAND per bit (no nested 64-wide
    conditional arrays, which ballooned codegen to 8 MiB task binaries in
    the first implementation)."""
    hashes = F.transform(tokens_col, lambda t: F.xxhash64(t))

    def bit_counts(h):
        # (h & mask) != 0 → 1 else 0, for all 64 literal masks
        return F.array(
            *[
                (h.bitwiseAND(F.lit(m)) != 0).cast("long")
                for m in _MASKS
            ]
        )

    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), _BITS),
        lambda acc, h: F.zip_with(acc, bit_counts(h), lambda a, v: a + v),
    )
    n = F.size(tokens_col).cast("long")
    out = F.lit(0).cast("long")
    for j, m in enumerate(_MASKS):
        out = out.bitwiseOR(
            F.when(F.element_at(counts, j + 1) * 2 > n, F.lit(m))
            .otherwise(0)
            .cast("long")
        )
    return out


def simhash_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    hash_fn=None,
) -> DataFrame:
    """DataFrame(id, sh): the simhash of every row, in two row-local
    steps and no shuffle.

    1. The JVM hashes each token in place, ``transform(tokens, hash_fn)``
       → ``array<bigint>``, and drops rows whose token array is empty or
       null (they have no fingerprint).
    2. One ``mapInArrow`` numpy kernel (``_bit_majorities``) turns each
       row's hash list into its 64 bit-majorities.

    The fingerprint is per row: rows that share an id get one each.
    Bit j is set iff more than half of the row's tokens have bit j set
    in their hash; a null token hash counts toward the token count but
    sets no bit. ``hash_fn`` (Column -> Column) defaults to xxhash64
    (the scale path). ``parity.phash60`` makes the fingerprints
    cross-engine replayable (a 60-bit simhash — the top 4
    bit-majorities are vacuously 0); the voting/banding algebra is
    identical either way. ``tests/test_approx_operators.py`` keeps the
    former explode + 65-field aggregate form as the reference this must
    match bit for bit."""
    fn = hash_fn or F.xxhash64
    hashed = docs.select(
        F.col(id_col),
        # a lambda: transform rejects *cols functions such as F.xxhash64
        F.transform(F.col(tokens_col), lambda t: fn(t)).alias("_h"),
    ).filter(F.size("_h") > 0)
    schema = StructType(
        [hashed.schema[id_col], StructField("sh", LongType(), False)]
    )

    @worker_entry
    def fingerprint(batches):
        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(_bit_majorities(b.column(1)))],
                names=[id_col, "sh"],
            )

    return hashed.mapInArrow(fingerprint, schema)


def _bit_majorities(hashes) -> np.ndarray:
    """int64 simhash of every list in an Arrow ``list<int64>`` array
    whose lists are all non-empty (``np.add.reduceat`` needs a non-empty
    segment per row).

    One ``reduceat`` per bit position over the list offsets counts that
    bit across every row's tokens at once, so memory stays O(tokens in
    the batch); a tokens × 64 bit matrix instead took 714 MB on 10,000
    docs × 280 tokens. A null hash reads as 0: it counts toward the
    row's length but sets no bit."""
    n = pc.list_value_length(hashes).to_numpy().astype(np.int64)
    flat = pc.fill_null(hashes.flatten(), 0).to_numpy()
    starts = np.zeros(len(n), np.int64)
    np.cumsum(n[:-1], out=starts[1:])
    sh = np.zeros(len(n), np.uint64)
    for j in range(_BITS):
        # bit j of a signed hash: the arithmetic shift only fills the
        # bits above it
        ones = np.add.reduceat((flat >> j) & 1, starts)
        sh |= (2 * ones > n).astype(np.uint64) << np.uint64(j)
    return sh.view(np.int64)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit fingerprints: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def hamming_band_pairs(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(hash) <= max_hamming over ANY 64-bit
    fingerprint column via 16-bit-band blocking (pigeonhole: hamming <= 3
    guarantees at least one of the 4 bands is identical, so the blocked
    join is COMPLETE, not approximate). Shared by simhash (text) and
    media average-hash (multimodal) dedup.

    One explode to 4 band rows/row, one shuffle on (band_idx, band_val),
    in-bucket join + exact popcount verify.

    The (id, hash) frame is localCheckpointed before banding: the
    self-join otherwise plans the ENTIRE upstream fingerprint pipeline
    (scan -> tokenize -> the Arrow simhash kernel; the Arrow ahash pass
    for media) once PER JOIN SIDE, i.e. runs it twice — guide §3.3,
    materialize to truncate duplicated subtrees. With the simhash
    kernel it still pays: a warm ``dedup_simhash`` call plus collect at
    sf0.01 took 0.77 s with it and 0.83 s without (medians of 8
    alternating calls, 4-core local). The checkpoint holds 16 bytes/doc
    (id + one bigint), corpus-linear and payload-free.
    """
    sh = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_sh")
    ).localCheckpoint(eager=True)
    bands = sh.select(
        "_id",
        "_sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("_sh"), 16 * i).bitwiseAND(0xFFFF)
                    for i in range(4)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    left = bands.select(
        F.col("band_idx").alias("bi"),
        F.col("band_val").alias("bv"),
        F.col("_id").alias("id_a"),
        F.col("_sh").alias("sh_a"),
    )
    right = bands.select(
        F.col("band_idx").alias("bi2"),
        F.col("band_val").alias("bv2"),
        F.col("_id").alias("id_b"),
        F.col("_sh").alias("sh_b"),
    )
    return (
        left.join(
            right,
            (F.col("bi") == F.col("bi2"))
            & (F.col("bv") == F.col("bv2"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select(
            "id_a",
            "id_b",
            hamming64(F.col("sh_a"), F.col("sh_b")).alias("hamming"),
        )
        # filter BEFORE the distinct: hamming is a pure function of the
        # row, so filter/distinct commute — and the distinct's exchange
        # then carries only the (rare) near-dup pairs, not every
        # same-band collision (guide §2.3, shuffle fewer bytes).
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_hamming: int = 3,
    hash_fn=None,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming (see
    hamming_band_pairs for the blocking scheme)."""
    sh = simhash_df(docs, id_col, tokens_col, hash_fn=hash_fn)
    return hamming_band_pairs(sh, id_col, "sh", max_hamming)
