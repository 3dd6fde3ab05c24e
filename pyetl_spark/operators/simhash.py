"""SimHash — 64-bit similarity fingerprints for near-dup detection
(north-star dedup family).

Charikar's scheme: each token votes ±1 on each of 64 bit positions
(direction = the token's hash bits); the document's simhash is the sign
vector. Hamming-close simhashes ⇒ similar token multisets. Detection cost
is linear: band the 64 bits into 4×16-bit keys (pigeonhole: hamming <= 3
⇒ at least one identical band) and self-join per band.

Implementation is pure DataFrame algebra over xxhash64 — per doc one
higher-order fold builds the 64 bit-sums JVM-side; no explode of
(doc × token × bit) rows, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

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
    """DataFrame(id, sh): simhash per doc via explode + 64 flat aggregates.

    This is the production path: the Column fold above compiles a 64-wide
    array op per token (megabytes of codegen, slow to JIT); exploding to
    (doc, token_hash) rows and aggregating 64 simple bit-count sums keeps
    codegen flat and gets map-side partial aggregation for free.

    ``hash_fn`` (Column -> Column) defaults to xxhash64 (the scale path).
    ``parity.phash60`` makes the fingerprints cross-engine replayable (a
    60-bit simhash — the top 4 bit-majorities are vacuously 0); the
    voting/banding algebra is identical either way.

    Build cost (r11): the 64 bit-count aggregates and the 64-term
    majority fold are compiled SQL strings, not per-literal Column
    chains — the Column form spent ~5k Py4J round-trips per plan BUILD
    (SCALE.md: driver-side plan construction is a scale axis; same fix
    pattern as operators/knn.py's SRP bank); the count and the 64
    bit-count sums are ONE ``struct(...)`` aggregate expression, so the
    agg costs one F.expr, not 65. ``shiftleft(1L, j)``
    reproduces ``_MASKS`` exactly, sign bit included; the arithmetic is
    identical, so fingerprints are bit-identical to the old form
    (pinned by test_simhash_df_equals_column_form)."""
    exploded = docs.select(
        F.col(id_col).alias("_id"), F.explode(F.col(tokens_col)).alias("_t")
    ).select("_id", (hash_fn or F.xxhash64)(F.col("_t")).alias("_h"))
    counts = ", ".join(
        f"sum(cast((_h & shiftleft(1L, {j})) != 0 as long)) AS _c{j}"
        for j in range(_BITS)
    )
    counted = exploded.groupBy("_id").agg(
        F.expr(f"struct(count(1) AS _n, {counts})").alias("_s")
    )
    majority = " | ".join(
        f"(CASE WHEN _s._c{j} * 2 > _s._n THEN shiftleft(1L, {j}) "
        "ELSE 0L END)"
        for j in range(_BITS)
    )
    return counted.select(
        F.col("_id").alias(id_col), F.expr(majority).alias("sh")
    )


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
    (scan -> tokenize -> explode -> 65-aggregate groupBy for simhash;
    the Arrow ahash pass for media) once PER JOIN SIDE — guide §3.3,
    materialize to truncate duplicated subtrees. The checkpoint holds
    16 bytes/doc (id + one bigint), corpus-linear and payload-free.
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
