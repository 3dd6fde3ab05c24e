"""Query surface for the approximate scale-path operators
(SURVEY.md §2.10 `dedup_minhash_lsh` + north-star SimHash / ANN).

Most keys here register rows-only (Tier B): results that depend on
sampling, floating-point iteration, or Spark-only hashes never hash-match
an oracle (SURVEY §5.3 bans declaring them), and their quality gates are
the recall tests in tests/test_approx_operators.py against the exact
Tier-A twins. The exceptions are `dedup_simhash` and
`text_count_min_freq`: those sketches are DETERMINISTIC given their hash
family, so routing them through the cross-engine ``parity.phash60``
hashes makes the full sketch pipeline oracle-replayable (Tier A) while
xxhash64 stays the operators' default at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyetl_spark.operators import text as TX
from pyetl_spark.operators.knn import cosine_topk_lsh
from pyetl_spark.parity import FXP, PHASH60, PHASH60_SEEDED, R, rnd
from pyetl_spark.operators.minhash import (
    minhash_dedup_assign,
    minhash_near_dup_pairs,
)
from pyetl_spark.operators.simhash import simhash_near_dup_pairs
from pyetl_spark.registry import query
from pyetl_spark.tables import load_tables


def _ns_text(doc_id_col: str = "doc_id", text_col: str = "text"):
    """Column: id-NAMESPACED text — every whitespace token prefixed with
    the row's own doc id ("id:tok"), making cross-doc token overlap
    exactly 0 by construction. The r9 planted-fixture primitive shared
    by the dedup_winnowing and pipeline_training_corpus_neardup Tier-A
    forms; ``_NS_TEXT_SQL`` is its DuckDB twin — change BOTH together."""
    return F.array_join(
        F.transform(
            F.split(text_col, " "),
            lambda tk: F.concat(
                F.col(doc_id_col).cast("string"), F.lit(":"), tk
            ),
        ),
        " ",
    )


#: DuckDB twin of ``_ns_text`` (op-for-op; VARCHAR cast of a BIGINT id
#: renders identically to Spark's string cast)
_NS_TEXT_SQL = (
    "array_to_string(list_transform(string_split(text, ' '),"
    " tk -> CAST(doc_id AS VARCHAR) || ':' || tk), ' ')"
)


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir).documents
    return d.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokens")
    )


@query("dedup_minhash_lsh")  # Tier B — approximate, rows-only
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup CLUSTERS (SURVEY §2.10 `dedup_minhash_lsh`):
    the sub-quadratic 100 TB replacement for dedup_near_jaccard.

    Output is (doc_id, keeper_id) per doc — the dedup decision — not the
    all-pairs listing: measured on the dup-heavy documents fixture, pair
    output is 2.9M rows from 5k docs (quadratic in cluster size), while
    the assignment is one row per doc at any dup rate. Star edges per LSH
    bucket + exact-Jaccard verify + connected components; the pair form
    survives as operators/minhash.minhash_near_dup_pairs for the recall
    tests."""
    return minhash_dedup_assign(
        _doc_tokens(spark, sf_dir), threshold=0.8, num_hashes=32, bands=8
    ).orderBy("doc_id")


@query(
    "pipeline_training_corpus_neardup",
    oracle=f"""
    WITH o AS (
      SELECT doc_id, lang, source, {_NS_TEXT_SQL} AS text
      FROM documents
      WHERE doc_id < 500 AND lang IN ('en', 'de', 'fr')
        AND text IS NOT NULL
    ),
    t AS (
      SELECT doc_id, lang, source, text, string_split(text, ' ') AS toks
      FROM o
    ),
    q AS (
      SELECT doc_id, lang, source,
             {TX.quality_score_sql('text', 'toks')} AS q,
             len(toks) AS n
      FROM t
    )
    SELECT doc_id, lang, source, {R('q', 4)} AS quality,
           CAST(n AS BIGINT) AS n_tokens
    FROM q WHERE q >= 0.5 ORDER BY doc_id
    """,
)
def pipeline_training_corpus_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The flagship corpus pipeline chain — exact dedup, THEN MinHash
    near-dup cluster drop, then the quality gate — hash-verified end to
    end (r10 Tier-A conversion via the r9 namespaced-planting technique;
    the natural full-corpus funnel stays benched through
    `pipeline_curation_full`, the scale sentinel since r10).

    Construction (doc_id < 500, lang-filtered, tokens NAMESPACED with
    their doc id so cross-doc Jaccard is 0 by construction):

    * EXACT-text copies planted at % 20 → +100000 test the exact-dedup
      stage — identical md5(text), so the window keeps the source (min
      id) and the copy must die at stage 1.
    * SAME-TOKEN-SET copies planted at % 40 → +200000 (text + " " +
      its own first token — md5 differs, distinct-token set identical)
      test the MinHash stage with a GUARANTEED merge: they survive
      exact dedup, and an identical token set means an identical
      minhash signature, so copy and source share ALL NINE band
      buckets (8 minhash bands + the exact-set band) and — the
      namespaced fixture having no interlopers, cross-doc J = 0 —
      their edges verify at J = 1.0 deterministically; they must die
      as near-dup losers. (The fixture therefore pins the
      banding → edges → verify → CC → loser path as a whole, NOT the
      exact-set band in isolation — that band's own guarantee, which
      matters only when interlopers block the minhash buckets, is
      pinned by the structural and recovery tests in
      tests/test_approx_operators.py.) No other merges are possible
      (namespaces ⇒ J = 0, and every LSH edge is
      exact-Jaccard-verified).
    * Survivors = exactly the base slice, gated on the quality score
      of the namespaced text — already oracle-replayable op-for-op
      (TX.quality_score_sql, proven by `text_quality_score`).

    A broken md5 window, banding/edge pass, verify/CC stage, loser
    anti-join, or gate each produce a hash mismatch. Natural-corpus
    near-dup behavior stays pinned by `dedup_minhash_lsh` (rows-only by
    its documented xxhash64 rationale), the planted-cluster recovery
    tests in tests/test_approx_operators.py, and the
    `pipeline_curation_full` bench sentinel.

    This chain is the DEFAULT near-dup route at scale (SCALE.md
    "near-dup routing"): the quadratic `dedup_near_jaccard` stays
    oracle-only. Cost shape: one content-hash shuffle + the MinHash
    signature map + one band-bucket shuffle — corpus-linear, no pair
    explosion."""
    d = load_tables(spark, sf_dir).documents
    ns = d.filter(
        (F.col("doc_id") < 500) & F.col("lang").isin("en", "de", "fr")
    ).select("doc_id", "lang", "source", _ns_text().alias("text"))
    exact_copies = ns.filter(F.col("doc_id") % 20 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100000)
    )
    near_copies = (
        ns.filter(F.col("doc_id") % 40 == 0)
        .withColumn(
            "text",
            F.concat(
                "text", F.lit(" "), F.element_at(F.split("text", " "), 1)
            ),
        )
        .withColumn("doc_id", F.col("doc_id") + F.lit(200000))
    )
    base = (
        ns.unionByName(exact_copies)
        .unionByName(near_copies)
        .withColumn("t", F.split("text", " "))
    )
    from pyspark.sql import Window

    w_dedup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact = (
        base.withColumn("_rn", F.row_number().over(w_dedup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    assign = minhash_dedup_assign(
        exact.select(
            "doc_id", F.array_distinct(F.col("t")).alias("tokens")
        ),
        threshold=0.8,
        num_hashes=32,
        bands=8,
    )
    # keeper = cluster-min id (same keep rule as exact dedup); everything
    # else is a near-dup loser, removed by left_anti
    losers = assign.filter(F.col("doc_id") != F.col("keeper_id")).select(
        "doc_id"
    )
    kept = exact.join(losers, "doc_id", "left_anti").withColumn(
        "q", TX.quality_score(F.col("text"), F.col("t"))
    )
    return (
        kept.filter(F.col("q") >= 0.5)
        .select(
            "doc_id", "lang", "source",
            rnd(F.col("q"), 4).alias("quality"),
            F.size("t").cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


def _simhash_bit_terms() -> str:
    """60 bit-majority CASE terms of the oracle simhash (bits 60-63 of
    the 60-bit portable hash are always 0, so their majorities vanish)."""
    terms = [
        "CASE WHEN 2 * len(list_filter(hs, x -> ((x >> %d) & 1) = 1)) > n"
        " THEN CAST(%d AS BIGINT) ELSE CAST(0 AS BIGINT) END" % (j, 1 << j)
        for j in range(60)
    ]
    return " + ".join(terms)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents
    ),
    h AS (
      SELECT doc_id, len(toks) AS n,
             list_transform(toks, tk -> {PHASH60("tk")}) AS hs
      FROM t
    ),
    s AS (SELECT doc_id, ({_simhash_bit_terms()}) AS sh FROM h),
    b AS (
      SELECT doc_id, sh,
             (sh & 65535) AS b0, ((sh >> 16) & 65535) AS b1,
             ((sh >> 32) & 65535) AS b2, ((sh >> 48) & 65535) AS b3
      FROM s
    ),
    cand AS (
      SELECT a.doc_id AS id_a, c.doc_id AS id_b, a.sh AS sh_a, c.sh AS sh_b
      FROM b a JOIN b c ON a.b0 = c.b0 AND a.doc_id < c.doc_id
      UNION
      SELECT a.doc_id, c.doc_id, a.sh, c.sh
      FROM b a JOIN b c ON a.b1 = c.b1 AND a.doc_id < c.doc_id
      UNION
      SELECT a.doc_id, c.doc_id, a.sh, c.sh
      FROM b a JOIN b c ON a.b2 = c.b2 AND a.doc_id < c.doc_id
      UNION
      SELECT a.doc_id, c.doc_id, a.sh, c.sh
      FROM b a JOIN b c ON a.b3 = c.b3 AND a.doc_id < c.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (north star: SimHash dedup): 64-bit
    fingerprints, 16-bit-band blocking, hamming <= 3 — linear-cost
    near-dup sweep for very large corpora.

    Tier A via ``parity.phash60``: simhash is DETERMINISTIC given the
    token hash (bit-majority votes + banding — no sampling anywhere), so
    with a cross-engine hash the whole pipeline is oracle-replayable. The
    oracle recomputes the 60 bit-majorities per doc and mirrors the
    4x16-bit band blocking as four equi-joins (pigeonhole keeps both
    sides COMPLETE for hamming <= 3 — this also keeps the oracle
    sub-quadratic, unlike the declared quadratic jaccard twins).
    xxhash64 stays the operator default at scale."""
    from pyetl_spark.parity import phash60

    return simhash_near_dup_pairs(
        _doc_tokens(spark, sf_dir), max_hamming=3, hash_fn=phash60
    ).orderBy("id_a", "id_b")


def _srp_planes_values() -> str:
    """The SRP hyperplanes as DuckDB VALUES rows — generated from the
    SAME ``operators.knn._planes(16, 64, 42)`` the Spark side embeds as
    literals, so oracle and engine cannot drift."""
    from pyetl_spark.operators.knn import _planes

    return ", ".join(
        "({}, [{}])".format(j, ", ".join(f"{v:.1f}" for v in plane))
        for j, plane in enumerate(_planes(16, 64, 42))
    )


_FOLD_DOT = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(generate_series(1, 64), i -> {a}[i] * {b}[i])), "
    "(acc, x) -> acc + x)"
)
_FOLD_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({a}, x -> x * x)), (acc, x) -> acc + x))"
)


@query(
    "vec_ann_lsh",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    planes AS (SELECT * FROM (VALUES {_srp_planes_values()}) AS t(j, p)),
    sig AS (
      SELECT d.vec_id,
             CAST(sum(CASE WHEN d.dot > 0
                           THEN (CAST(1 AS BIGINT) << d.j)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS sig
      FROM (
        SELECT v.vec_id, pl.j,
               {_FOLD_DOT.format(a="v.e", b="pl.p")} AS dot
        FROM v CROSS JOIN planes pl
      ) d
      GROUP BY d.vec_id
    ),
    pb AS (
      SELECT s.vec_id AS probe_id, b.i AS bi, (s.sig >> (4 * b.i)) & 15 AS bv
      FROM sig s CROSS JOIN (VALUES (0), (1), (2), (3)) b(i)
      WHERE s.vec_id < 10
    ),
    cb AS (
      SELECT s.vec_id AS cand_id, b.i AS bi, (s.sig >> (4 * b.i)) & 15 AS bv
      FROM sig s CROSS JOIN (VALUES (0), (1), (2), (3)) b(i)
    ),
    cand AS (
      SELECT DISTINCT pb.probe_id, cb.cand_id
      FROM pb JOIN cb ON pb.bi = cb.bi AND pb.bv = cb.bv
                     AND cb.cand_id <> pb.probe_id
    ),
    sims AS (
      SELECT c.probe_id, c.cand_id,
             {_FOLD_DOT.format(a="p.e", b="q.e")}
               / {_FOLD_NORM.format(a="p.e")}
               / {_FOLD_NORM.format(a="q.e")} AS sim
      FROM cand c
      JOIN v p ON p.vec_id = c.probe_id
      JOIN v q ON q.vec_id = c.cand_id
    )
    SELECT probe_id, cand_id, {R("sim", 6)} AS sim, rn AS rank
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY probe_id ORDER BY sim DESC, cand_id) AS rn
      FROM sims
    ) WHERE rn <= 5
    """,
)
def vec_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via sign-random-projection LSH (north
    star: similarity search scale path); exact re-rank on candidates, so
    returned sims are true cosines — only the candidate set is approximate.

    Tier A: SRP is DETERMINISTIC end-to-end — ±1 Rademacher hyperplanes
    from a splitmix scramble of (seed, bit, dim), signature dot products
    and cosine re-rank both left-fold in a fixed order (the bit-parity
    construction vec_cosine_topk already proved), banding is integer
    algebra. The oracle embeds the SAME plane literals (generated from
    operators/knn._planes) and replays signature → band join → exact
    re-rank, so the driver hash-checks which candidates the index
    recalls, not just that some rows exist. Recall-vs-brute-force gates
    stay in tests/test_approx_operators.py."""
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    corpus = v.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec")
    )
    out = cosine_topk_lsh(probes, corpus, k=5)
    return out.select(
        "probe_id", "cand_id", rnd(F.col("sim"), 6).alias("sim"), "rank"
    ).orderBy("probe_id", "rank")


def _media_stream_sql(src: str = "documents", where: str = "") -> str:
    """CTE prefix replaying operators/multimodal._decode_image_stub's
    sha256 hex chain in DuckDB: media_id + the 128-hex-char pixel byte
    stream (64 bytes = the 8x8 fake image) per document."""
    return f"""
    mseed AS (
      SELECT doc_id AS media_id,
             sha256(lower(hex(encode(text)))) AS seed
      FROM {src} {where}
    ),
    mstream AS (
      SELECT media_id,
             sha256(seed || '|0') || sha256(seed || '|1') AS stream
      FROM mseed
    )"""


@query(
    "multimodal_features",
    oracle=f"""
    WITH {_media_stream_sql()},
    px AS (
      SELECT media_id,
             list_transform(generate_series(0, 63), k ->
               CAST(('0x' || substring(stream, 2*k + 1, 2)) AS INT) / 255.0)
               AS p
      FROM mstream
    )
    SELECT media_id,
           array_to_string(
             list_transform(generate_series(0, 31), i ->
               CAST(CAST(sign((p[i+1] + p[i+33]) / 2.0)
                    * floor(abs((p[i+1] + p[i+33]) / 2.0) * 1000000.0 + 0.5)
                    AS BIGINT) AS VARCHAR)),
             '|') AS features_fp6
    FROM px ORDER BY media_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction (north star: multimodal columns):
    binary payload + typed metadata → feature vectors via Arrow-batched
    mapInPandas; decode is a deterministic stub in this container
    (operators/multimodal.py documents the real-decoder swap point).

    Tier A (r8 conversion): the stub's sha256 hex chain is replayed by
    the oracle (``_media_stream_sql``), pixels are single exact
    divisions byte/255.0, and the strided means are explicit two-term
    ascending folds on both sides (0.0 + p_i + p_{{i+32}}, then /2 —
    the operator loops explicitly instead of ndarray.mean(), whose
    pairwise summation no SQL can replay). The fp6 quantization is the
    shared sign·floor(|x|·1e6+0.5) expression. Any drift in the decode
    chain, the Arrow batch plumbing, or the fold order breaks the
    hash."""
    from pyetl_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
    )

    # Sort BEFORE the Python stage: the range-partition sampler then
    # scans documents only, and mapInPandas runs once, in the stage after
    # the exchange. Sorting the features instead ran it twice (sampler +
    # map stage). Range partitions stay in key order through the narrow
    # mapInPandas, so sorting within partitions restores the total order.
    docs = load_tables(spark, sf_dir).documents.orderBy("doc_id")
    feats = extract_features(attach_fake_media(docs))
    # declared surface serializes the vector (array cells break the
    # driver's pandas canon); the operator itself stays array-native
    return feats.select(
        "media_id",
        F.concat_ws(
            "|",
            F.transform(
                "features",
                lambda x: (
                    (F.signum(x) * F.floor(F.abs(x) * 1e6 + F.lit(0.5)))
                    .cast("long")
                    .cast("string")
                ),
            ),
        ).alias("features_fp6"),
    ).sortWithinPartitions("media_id")


def _sq_sql(a: str, c: str, dim: int = 64) -> str:
    """DuckDB twin of ivf._sq_dist: ascending fold of (a_i − c_i)²."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1,{dim}), "
        f"i -> ({a}[i] - {c}[i]) * ({a}[i] - {c}[i]))), (x,y) -> x + y)"
    )


def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB twin of ivf._dot: ascending fold of a_i·b_i."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform(generate_series(1,{dim}), "
        f"i -> {a}[i] * {b}[i])), (x,y) -> x + y)"
    )


def _normsq_sql(a: str) -> str:
    """DuckDB twin of ivf._norm_sq."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS DOUBLE), "
        f"list_transform({a}, x -> x * x)), (x,y) -> x + y)"
    )


def _kmeans_ctes(
    k: int | str = 8,
    iters: int = 2,
    dim: int = 64,
    scale: int | None = None,
    train_where: str = "",
) -> str:
    """CTE chain replaying operators/ivf.kmeans_fit_exact in DuckDB:
    phash60-spread seeds, then ``iters`` textually-unrolled Lloyd steps
    (assignment = first-min index over ascending (dist, cell) — identical
    to the engine's array_min-of-structs tie-break because cells ascend
    with list position; means = exact integer fixed-point sums descaled
    with the same float expression). Produces c{iters}(cents, cells).
    ``scale`` defaults to the ENGINE's KMEANS_SCALE constant so the
    descale factor has one definition feeding both sides.

    ``train_where`` (r13, the index-maintenance oracles): a raw SQL
    predicate ("WHERE vec_id % 5 != 4") restricting the FIT to a subset
    of ``v`` — seeds and every Lloyd step then read the filtered ``vt``
    while ``v`` itself stays the full table for downstream probe/encode
    CTEs. Empty (default) fits on all of ``v``, text-identical to the
    pre-r13 generator."""
    from pyetl_spark.operators.ivf import KMEANS_SCALE

    scale = KMEANS_SCALE if scale is None else scale
    src = "vt" if train_where else "v"

    def assign(s: str) -> str:
        dists = (
            f"list_transform({s}.cents, c -> {_sq_sql('p.e', 'c', dim)})"
        )
        return (
            f"{s}.cells[list_position({dists}, "
            f"list_aggregate({dists}, 'min'))]"
        )

    vt_cte = (
        f"""vt AS MATERIALIZED (
      SELECT * FROM v {train_where}
    ),
    """
        if train_where
        else ""
    )
    parts = [
        f"""v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    {vt_cte}seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY bucket) - 1 AS INT) AS cell,
             e AS centroid
      FROM (
        SELECT bucket, e,
               row_number() OVER (PARTITION BY bucket ORDER BY h, vec_id)
                 AS rb
        FROM (SELECT vec_id, e, {PHASH60('vec_id')} AS h,
                     {PHASH60('vec_id')} % ({k}) AS bucket FROM {src})
      ) WHERE rb = 1
    ),
    c0 AS MATERIALIZED (
      SELECT list(centroid ORDER BY cell) AS cents,
             list(cell ORDER BY cell) AS cells
      FROM seeds
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (
      SELECT p.vec_id, p.e, {assign(f'c{i - 1}')} AS cell
      FROM {src} p, c{i - 1} c{i - 1}
    ),
    m{i} AS (
      SELECT cell, pos,
             (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               / {float(scale)} AS m
      FROM (
        SELECT cell, unnest(generate_series(1,{dim})) AS pos,
               unnest(list_transform(e, x -> {FXP('x', scale)})) AS q
        FROM a{i}
      ) GROUP BY cell, pos
    ),
    c{i} AS MATERIALIZED (
      SELECT list(centroid ORDER BY cell) AS cents,
             list(cell ORDER BY cell) AS cells
      FROM (SELECT cell, list(m ORDER BY pos) AS centroid
            FROM m{i} GROUP BY cell)
    )"""
        )
    return ",\n    ".join(parts)


def _ivf_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """Full DuckDB replay of vec_ann_ivf: exact k-means cells, nprobe=2
    cell search ranked by (dist, cell), fold-ordered cosine re-rank
    top-5 by (sim DESC, cand_id)."""
    dists = f"list_transform(s.cents, c -> {_sq_sql('p.e', 'c', dim)})"
    final = f"c{iters}"
    return f"""
    WITH {_kmeans_ctes(k, iters, dim)},
    idx AS MATERIALIZED (
      SELECT p.vec_id AS cand_id, p.e AS cand_vec,
             s.cells[list_position({dists}, list_aggregate({dists}, 'min'))]
               AS cell
      FROM v p, {final} s
    ),
    pcells AS (
      SELECT probe_id, probe_vec, cell FROM (
        SELECT probe_id, probe_vec, cell,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cell)
                 AS rn
        FROM (
          SELECT p.vec_id AS probe_id, p.e AS probe_vec,
                 unnest(s.cells) AS cell,
                 unnest({dists}) AS d
          FROM v p, {final} s WHERE p.vec_id < 10
        )
      ) WHERE rn <= 2
    ),
    sims AS (
      SELECT DISTINCT pc.probe_id, i.cand_id,
             {_dot_sql('pc.probe_vec', 'i.cand_vec', dim)}
               / sqrt({_normsq_sql('pc.probe_vec')})
               / sqrt({_normsq_sql('i.cand_vec')}) AS sim
      FROM pcells pc JOIN idx i USING (cell)
      WHERE i.cand_id != pc.probe_id
    )
    SELECT probe_id, cand_id, sim, CAST(rank AS INT) AS rank FROM (
      SELECT probe_id, cand_id, sim,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY sim DESC, cand_id) AS rank
      FROM sims
    ) WHERE rank <= 5
    ORDER BY probe_id, rank
    """


@query("vec_ann_ivf", oracle=_ivf_oracle())
def vec_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors (north star: similarity search,
    clustered-corpus path): deterministic distributed k-means builds the
    cells, probes search the nprobe=2 nearest cells, exact cosine
    re-rank inside. Recall vs the brute-force twin is asserted in
    tests/test_ivf.py; cell balance is observable via cell_size_stats.

    Tier A (r7 conversion): the clustering is ``kmeans_fit_exact``
    (operators/ivf.py), the engine's only k-means fit — phash60-spread
    seeds + integer-quantized Lloyd means (one Arrow stage per
    iteration) + ascending-fold distances — so the ENTIRE index-build +
    search pipeline is replayed by the DuckDB oracle (``_ivf_oracle``:
    unrolled Lloyd CTEs, same argmin tie-break, same fold-ordered
    cosine) and hash-matches on raw doubles."""
    from pyetl_spark.operators.ivf import (
        ivf_assign,
        ivf_topk,
        kmeans_fit_exact,
    )

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = kmeans_fit_exact(v, k=8, iters=2)
    indexed = ivf_assign(v, cents).select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec"), "cell"
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    return ivf_topk(probes, indexed, cents, k=5, nprobe=2).orderBy(
        "probe_id", "rank"
    )


def _cdc_oracle(avg_bits: int = 6, min_size: int = 16, max_size: int = 256) -> str:
    """DuckDB replay of the per-byte Gear CDC loop (operators/multimodal.
    cdc_boundaries + chunk_payloads): a recursive CTE advances every
    payload one byte per iteration, carrying (h, last_cut) exactly as
    the Python loop does — h' = ((h<<1) mod 2^64) XOR gear[b] via
    UBIGINT arithmetic, cut when size ≥ max or (size ≥ min and the top
    avg_bits of h' are zero), h reset on cut. The 256 gear constants
    are generated from the SAME sha256 derivation the engine uses.
    Depth = max payload bytes (≤ ~560 — the query is id-bounded to 200
    docs, so oracle cost is constant in SF). Chunk hashes are sha256
    over the lowercase hex of the chunk bytes (the engine's contract —
    DuckDB's sha256 is VARCHAR-only, the same trick as the decode
    stub's hex chain)."""
    import hashlib as _hl

    tmask = ((1 << avg_bits) - 1) << (64 - avg_bits)
    gear = ", ".join(
        f"({b}, CAST('{int.from_bytes(_hl.sha256(bytes([b])).digest()[:8], 'big')}' AS UBIGINT))"
        for b in range(256)
    )
    return f"""
    WITH RECURSIVE
    m AS MATERIALIZED (
      SELECT doc_id AS media_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) AS n
      FROM documents WHERE doc_id < 200
    ),
    gear(gb, gv) AS (VALUES {gear}),
    r AS (
      SELECT media_id, 0 AS pos, CAST(0 AS UBIGINT) AS h, 0 AS last_cut,
             FALSE AS is_cut
      FROM m
      UNION ALL
      SELECT media_id, pos + 1,
             CASE WHEN cut THEN CAST(0 AS UBIGINT) ELSE h2 END,
             CASE WHEN cut THEN pos + 1 ELSE last_cut END,
             cut
      FROM (
        SELECT r.media_id, r.pos, r.last_cut, h2,
               (r.pos + 1 - r.last_cut >= {max_size}
                OR (r.pos + 1 - r.last_cut >= {min_size}
                    AND (h2 & CAST('{tmask}' AS UBIGINT))
                          = CAST(0 AS UBIGINT))) AS cut
        FROM (
          SELECT r.*,
                 xor((r.h % CAST('9223372036854775808' AS UBIGINT))
                       * CAST(2 AS UBIGINT), g.gv) AS h2
          FROM r
          JOIN m USING (media_id)
          JOIN gear g
            ON g.gb = CAST(('0x' || substr(m.hx, 2 * r.pos + 1, 2)) AS INT)
          WHERE r.pos < m.n
        ) r
      ) r
    ),
    cuts AS (
      SELECT media_id, pos AS cut FROM r WHERE is_cut
      UNION ALL
      SELECT media_id, n AS cut
      FROM (SELECT media_id,
                   max(last_cut) FILTER (WHERE pos = n) AS lc,
                   any_value(n) AS n
            FROM r JOIN m USING (media_id) GROUP BY media_id)
      WHERE lc < n
    ),
    chunks AS (
      SELECT media_id,
             row_number() OVER (PARTITION BY media_id ORDER BY cut) - 1
               AS chunk_idx,
             coalesce(lag(cut) OVER (PARTITION BY media_id ORDER BY cut),
                      0) AS offset,
             cut
      FROM cuts
    )
    SELECT c.media_id, CAST(c.chunk_idx AS BIGINT) AS chunk_idx,
           CAST(c.offset AS BIGINT) AS offset,
           CAST(c.cut - c.offset AS BIGINT) AS n_bytes,
           substr(sha256(lower(substr(m.hx, 2 * c.offset + 1,
                                      2 * (c.cut - c.offset)))), 1, 16)
             AS chunk_hash
    FROM chunks c JOIN m USING (media_id)
    ORDER BY media_id, chunk_idx
    """


@query("multimodal_cdc_chunks", oracle=_cdc_oracle())
def multimodal_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of binary media payloads (Gear rolling
    hash, FastCDC-style): each blob → (chunk_idx, offset, n_bytes,
    chunk_hash) rows; dedup then joins on chunk_hash so shared byte runs
    across different blobs collapse even when whole-file hashes differ.
    Boundary shift-resistance and exact tiling are engine-tested in
    tests/test_multimodal.py.

    Tier A (r9 conversion — closes the last "no SQL twin" residual):
    the per-byte Gear loop IS replayable after all, as a recursive CTE
    stepping one byte per iteration (see ``_cdc_oracle``; the win_ewma
    recurrence-replay technique applied at byte granularity). The one
    contract change that enabled it: chunk hashes are sha256 over the
    LOWERCASE HEX of the chunk bytes — a bijective re-encoding with
    identical dedup semantics — because DuckDB's sha256 is
    VARCHAR-only and arbitrary bytes aren't valid VARCHAR."""
    from pyetl_spark.operators.multimodal import (
        attach_fake_media,
        chunk_payloads,
    )

    d = load_tables(spark, sf_dir).documents
    media = attach_fake_media(d.filter(F.col("doc_id") < 200))
    return chunk_payloads(media).orderBy("media_id", "chunk_idx")


def _pq_oracle(
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    iters: int = 2,
    topk: int = 5,
    scale: int | None = None,
) -> str:
    """DuckDB replay of vec_pq_adc_topk: per-subspace phash60-seeded
    codebooks, ``iters`` unrolled Lloyd rounds with integer-quantized
    means, min-(dist, cell) assignment, and the ADC sum folded in fixed
    sub order — mirrors operators/pq.pq_fit_exact + adc_topk. ``scale``
    defaults to the ENGINE's PQ_SCALE constant (one definition, both
    sides)."""
    from pyetl_spark.operators.pq import PQ_SCALE

    scale = PQ_SCALE if scale is None else scale
    d_sub = dim // m
    seed_h = PHASH60_SEEDED("sub", "id")

    def assign(cb: str, out: str) -> str:
        return f"""{out} AS MATERIALIZED (
      SELECT id, sub, sv, cell AS code FROM (
        SELECT s.id, s.sub, s.sv, c.cell,
               row_number() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY {_sq_sql('s.sv', 'c.centroid', d_sub)}, c.cell
               ) AS rn
        FROM subs s JOIN {cb} c USING (sub)
      ) WHERE rn = 1
    )"""

    parts = [
        f"""v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    subs AS MATERIALIZED (
      SELECT v.vec_id AS id, s.sub,
             v.e[s.sub*{d_sub}+1 : s.sub*{d_sub}+{d_sub}] AS sv
      FROM v, (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
    ),
    cb0 AS MATERIALIZED (
      SELECT sub,
             CAST(row_number() OVER (PARTITION BY sub ORDER BY bucket) - 1
                  AS INT) AS cell,
             centroid
      FROM (
        SELECT sub, bucket, sv AS centroid FROM (
          SELECT sub, {seed_h} % {k} AS bucket, sv,
                 row_number() OVER (PARTITION BY sub, {seed_h} % {k}
                                    ORDER BY {seed_h}, id) AS rb
          FROM subs
        ) WHERE rb = 1
      )
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(assign(f"cb{i - 1}", f"a{i}"))
        parts.append(
            f"""cb{i} AS MATERIALIZED (
      SELECT sub, cell, list(mval ORDER BY pos) AS centroid FROM (
        SELECT sub, code AS cell, pos,
               (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                 / {float(scale)} AS mval
        FROM (
          SELECT sub, code,
                 unnest(generate_series(1, {d_sub})) AS pos,
                 unnest(list_transform(sv, x -> {FXP('x', scale)})) AS q
          FROM a{i}
        ) GROUP BY sub, code, pos
      ) GROUP BY sub, cell
    )"""
        )
    parts.append(assign(f"cb{iters}", "enc"))
    parts.append(
        f"""ptab AS MATERIALIZED (
      SELECT p.id AS pid, p.sub, c.cell AS code,
             {_sq_sql('p.sv', 'c.centroid', d_sub)} AS pd
      FROM subs p JOIN cb{iters} c USING (sub)
      WHERE p.id < 5
    ),
    scored AS (
      SELECT t.pid, e2.id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(t.pd ORDER BY t.sub)), (a,b) -> a + b) AS adc_dist
      FROM enc e2 JOIN ptab t ON t.sub = e2.sub AND t.code = e2.code
      GROUP BY t.pid, e2.id
    )"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT pid AS probe_id, id AS neighbor_id,
           {R('adc_dist', 4)} AS adc_dist, CAST(rank AS INT) AS rank
    FROM (
      SELECT pid, id, adc_dist,
             row_number() OVER (PARTITION BY pid
                                ORDER BY adc_dist, id) AS rank
      FROM scored
    ) WHERE rank <= {topk}
    ORDER BY probe_id, rank
    """
    )


@query("vec_pq_adc_topk", oracle=_pq_oracle())
def vec_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/pq.py): train m=8 k=16 codebooks
    in one distributed Lloyd loop, compress every embedding to 8 4-bit
    codes (32× smaller than float32 — the memory math that makes
    billion-vector search fit a cluster), then answer 5 probes by
    asymmetric distance: per-probe m×k lookup table broadcast into ONE
    equi-join on (sub, code) + a sum — no per-pair distance loop.
    pytest pins recall vs exact L2 and training monotonicity on planted
    clusters.

    Tier A (r7 conversion, closing the exact-fold family): codebooks
    come from ``pq_fit_exact`` (phash60 seeds, integer-quantized means)
    and the ADC sum folds in fixed sub order, so the DuckDB oracle
    (``_pq_oracle``) replays train + encode + search end-to-end and the
    quantized distances hash-match."""
    from pyetl_spark.operators.pq import adc_topk, pq_encode, pq_fit_exact

    emb = load_tables(spark, sf_dir).embeddings
    cb = pq_fit_exact(emb, m=8, k=16, dim=64, iters=2)
    codes = pq_encode(emb, cb, m=8, dim=64)
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = adc_topk(probes, codes, cb, m=8, dim=64, topk=5)
    return out.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        rnd(F.col("adc_dist"), 4).alias("adc_dist"),
        "rank",
    ).orderBy("probe_id", "rank")


def _ivfpq_oracle(
    coarse_k: int = 8,
    coarse_iters: int = 2,
    m: int = 8,
    k: int = 16,
    pq_iters: int = 2,
    dim: int = 64,
    topk: int = 5,
    nprobe: int = 2,
    scale: int | None = None,
    train_where: str = "",
    delta_where: str = "",
    recall: bool = False,
) -> str:
    """DuckDB replay of vec_ann_ivfpq end-to-end (r12): the _kmeans_ctes
    coarse cells, per-vector RESIDUAL vs the assigned centroid (exact
    IEEE subtraction — both sides see identical doubles because the
    coarse means are integer-quantized), the _pq_oracle codebook fit
    re-run over residual subvectors (same phash60(sub, id) seeding —
    seed choice reads only (sub, id), so it is construction-identical),
    per-(probe, probed-cell) residual ADC tables, and the fixed
    sub-order fold. Mirrors operators/ivfpq.py.

    Maintenance mode (r13, vec_ann_ivfpq_index_maintenance): pass
    complementary ``train_where``/``delta_where`` predicates. The
    coarse fit, PQ fit, and day-1 encode then read only the train
    subset; the delta subset is assigned to the FINAL centroids and
    encoded with the FINAL codebook (no retrain — the exact replay of
    operators/ivfpq.ivfpq_index_delta), and search runs over the union
    of both days' codes. Defaults replay the single-shot build.

    ``recall`` (r13, vec_ann_ivfpq_recall_eval): instead of the ranked
    neighbor rows, emit per-probe recall@topk of the IVF-PQ search
    against exact brute-force squared-L2 ground truth (same
    fold-ordered _sq_sql on both sides, self excluded, (dist, id)
    tie-break) — the evaluation itself is hash-verified."""
    from pyetl_spark.operators.pq import PQ_SCALE

    scale = PQ_SCALE if scale is None else scale
    d_sub = dim // m
    final = f"c{coarse_iters}"
    dists = f"list_transform(s.cents, c -> {_sq_sql('p.e', 'c', dim)})"
    argmin = f"list_position({dists}, list_aggregate({dists}, 'min'))"
    seed_h = PHASH60_SEEDED("sub", "id")

    def assign(cb: str, out: str, src: str = "rsubs") -> str:
        return f"""{out} AS MATERIALIZED (
      SELECT id, sub, sv, cell AS code FROM (
        SELECT s.id, s.sub, s.sv, c.cell,
               row_number() OVER (
                 PARTITION BY s.id, s.sub
                 ORDER BY {_sq_sql('s.sv', 'c.centroid', d_sub)}, c.cell
               ) AS rn
        FROM {src} s JOIN {cb} c USING (sub)
      ) WHERE rn = 1
    )"""

    idx_clause = f" {train_where}" if train_where else ""
    parts = [
        _kmeans_ctes(
            coarse_k, coarse_iters, dim, train_where=train_where
        ).lstrip(),
        f"""idx AS MATERIALIZED (
      SELECT p.vec_id AS id, p.e,
             s.cells[{argmin}] AS cell,
             s.cents[{argmin}] AS ccent
      FROM v p, {final} s{idx_clause}
    ),
    res AS MATERIALIZED (
      SELECT id, cell,
             list_transform(generate_series(1, {dim}),
                            i -> e[i] - ccent[i]) AS r
      FROM idx
    ),
    rsubs AS MATERIALIZED (
      SELECT id, s.sub, r[s.sub*{d_sub}+1 : s.sub*{d_sub}+{d_sub}] AS sv
      FROM res, (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
    ),
    cb0 AS MATERIALIZED (
      SELECT sub,
             CAST(row_number() OVER (PARTITION BY sub ORDER BY bucket) - 1
                  AS INT) AS cell,
             centroid
      FROM (
        SELECT sub, bucket, sv AS centroid FROM (
          SELECT sub, {seed_h} % {k} AS bucket, sv,
                 row_number() OVER (PARTITION BY sub, {seed_h} % {k}
                                    ORDER BY {seed_h}, id) AS rb
          FROM rsubs
        ) WHERE rb = 1
      )
    )""",
    ]
    for i in range(1, pq_iters + 1):
        parts.append(assign(f"cb{i - 1}", f"pa{i}"))
        parts.append(
            f"""cb{i} AS MATERIALIZED (
      SELECT sub, cell, list(mval ORDER BY pos) AS centroid FROM (
        SELECT sub, code AS cell, pos,
               (CAST(sum(q) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                 / {float(scale)} AS mval
        FROM (
          SELECT sub, code,
                 unnest(generate_series(1, {d_sub})) AS pos,
                 unnest(list_transform(sv, x -> {FXP('x', scale)})) AS q
          FROM pa{i}
        ) GROUP BY sub, code, pos
      ) GROUP BY sub, cell
    )"""
        )
    parts.append(assign(f"cb{pq_iters}", "encf"))
    enc_src = "enc"
    if delta_where:
        # the maintenance replay: day-2 vectors assigned to the FINAL
        # coarse centroids, residualized, encoded with the FINAL
        # codebook (no retrain), appended to day-1's codes — exactly
        # operators/ivfpq.ivfpq_index_delta
        enc_src = "encall"
        parts.append(
            f"""idxd AS MATERIALIZED (
      SELECT p.vec_id AS id, p.e,
             s.cells[{argmin}] AS cell,
             s.cents[{argmin}] AS ccent
      FROM v p, {final} s {delta_where}
    ),
    resd AS MATERIALIZED (
      SELECT id, cell,
             list_transform(generate_series(1, {dim}),
                            i -> e[i] - ccent[i]) AS r
      FROM idxd
    ),
    rsubsd AS MATERIALIZED (
      SELECT id, s.sub, r[s.sub*{d_sub}+1 : s.sub*{d_sub}+{d_sub}] AS sv
      FROM resd, (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
    )"""
        )
        parts.append(assign(f"cb{pq_iters}", "encfd", src="rsubsd"))
    delta_enc = (
        """encd AS MATERIALIZED (
      SELECT e.id, r.cell, e.sub, e.code
      FROM encfd e JOIN (SELECT id, cell FROM resd) r USING (id)
    ),
    encall AS MATERIALIZED (
      SELECT * FROM enc UNION ALL SELECT * FROM encd
    ),
    """
        if delta_where
        else ""
    )
    parts.append(
        f"""enc AS MATERIALIZED (
      SELECT e.id, r.cell, e.sub, e.code
      FROM encf e JOIN (SELECT id, cell FROM res) r USING (id)
    ),
    {delta_enc}pcells AS MATERIALIZED (
      SELECT pid, cell, ccent, e FROM (
        SELECT pid, cell, ccent, e,
               row_number() OVER (PARTITION BY pid ORDER BY dd, cell)
                 AS rn
        FROM (
          SELECT p.vec_id AS pid, p.e,
                 unnest(s.cells) AS cell,
                 unnest(s.cents) AS ccent,
                 unnest({dists}) AS dd
          FROM v p, {final} s WHERE p.vec_id < 5
        )
      ) WHERE rn <= {nprobe}
    ),
    ptab AS MATERIALIZED (
      SELECT pc.pid, pc.cell, s.sub, c.cell AS code,
             {_sq_sql(f"(list_transform(generate_series(1, {dim}), i -> pc.e[i] - pc.ccent[i]))[s.sub*{d_sub}+1 : s.sub*{d_sub}+{d_sub}]", 'c.centroid', d_sub)}
               AS pd
      FROM pcells pc,
           (SELECT unnest(generate_series(0, {m - 1})) AS sub) s
      JOIN cb{pq_iters} c ON c.sub = s.sub
    ),
    scored AS (
      SELECT t.pid, e2.id,
             list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list(t.pd ORDER BY t.sub)), (a,b) -> a + b) AS adc_dist
      FROM {enc_src} e2
      JOIN ptab t ON t.cell = e2.cell AND t.sub = e2.sub
                 AND t.code = e2.code
      WHERE e2.id != t.pid
      GROUP BY t.pid, e2.id
    )""",
    )
    if recall:
        parts.append(
            f"""approx AS (
      SELECT pid AS probe_id, id AS cand_id FROM (
        SELECT pid, id,
               row_number() OVER (PARTITION BY pid
                                  ORDER BY adc_dist, id) AS rank
        FROM scored
      ) WHERE rank <= {topk}
    ),
    exact AS (
      SELECT probe_id, cand_id FROM (
        SELECT pr.vec_id AS probe_id, ca.vec_id AS cand_id,
               row_number() OVER (PARTITION BY pr.vec_id
                                  ORDER BY {_sq_sql('pr.e', 'ca.e', dim)},
                                           ca.vec_id) AS rn
        FROM v pr JOIN v ca
          ON pr.vec_id < 5 AND ca.vec_id != pr.vec_id
      ) WHERE rn <= {topk}
    )"""
        )
        return (
            "\n    WITH "
            + ",\n    ".join(parts)
            + f"""
    SELECT e.probe_id,
           coalesce(h.n_hits, 0) AS n_hits,
           e.n_true,
           {R('CAST(coalesce(h.n_hits, 0) AS DOUBLE) / e.n_true', 4)}
             AS recall_at_{topk}
    FROM (SELECT probe_id, count(*) AS n_true FROM exact GROUP BY probe_id) e
    LEFT JOIN (
      SELECT probe_id, count(*) AS n_hits
      FROM exact JOIN approx USING (probe_id, cand_id)
      GROUP BY probe_id
    ) h USING (probe_id)
    ORDER BY e.probe_id
    """
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT pid AS probe_id, id AS neighbor_id,
           {R('adc_dist', 4)} AS adc_dist, CAST(rank AS INT) AS rank
    FROM (
      SELECT pid, id, adc_dist,
             row_number() OVER (PARTITION BY pid
                                ORDER BY adc_dist, id) AS rank
      FROM scored
    ) WHERE rank <= {topk}
    ORDER BY probe_id, rank
    """
    )


@query("vec_ann_ivfpq", oracle=_ivfpq_oracle())
def vec_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (operators/ivfpq.py, r12) — the composed billion-scale
    index: coarse k-means cells prune the corpus to nprobe=2 cells per
    probe, PQ (m=8, k=16) trained on RESIDUALS compresses each vector
    to 8 4-bit codes, and search is per-(probe, cell) residual ADC
    tables joined once on (cell, sub, code). This is the standard
    production composition of the two existing indexes (vec_ann_ivf
    prunes but stores full vectors; vec_pq_adc_topk compresses but
    scans every code): together the inverted file holds 8 BYTES per
    vector and search touches only the probed cells' codes.

    Tier A end-to-end: coarse centroids from kmeans_fit_exact, PQ
    codebooks from pq_fit_exact over the residual frame (seeding reads
    only (sub, id), so planted identically by the oracle), residual
    subtraction exact IEEE on identical inputs, ADC folded in fixed sub
    order — the DuckDB oracle (_ivfpq_oracle) replays coarse fit →
    residual → PQ fit → encode → probe-residual ADC and hash-matches
    on 4dp-rounded distances. Recall vs exact L2 is pinned in
    tests/test_pq.py."""
    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_residuals,
        ivfpq_topk,
    )
    from pyetl_spark.operators.pq import pq_fit_exact

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = kmeans_fit_exact(v, k=8, iters=2)
    # pin the residual frame: PQ's Lloyd iterations, the encode, and the
    # cell join each consume it, and without the pin every consumer
    # replays coarse-assign + zip_with from the scan. A production
    # index build persists exactly this frame on its way to disk (the
    # inverted file IS derived from it); size = corpus × dim doubles.
    res = ivfpq_residuals(ivf_assign(v, cents), cents).localCheckpoint(
        eager=True
    )
    cb = pq_fit_exact(
        res, id_col="vec_id", vec_col="r", m=8, k=16, dim=64, iters=2
    )
    codes = ivfpq_encode(res, cb, m=8, dim=64, k=16)
    probes = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    out = ivfpq_topk(
        probes,
        codes,
        cb,
        cents,
        m=8,
        dim=64,
        topk=5,
        nprobe=2,
        # probes are drawn from the corpus itself (vec_id < 5), so the
        # trivially-nearest self match is excluded explicitly (r13:
        # exclude_self became opt-in library-wide)
        exclude_self=True,
    )
    return out.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        rnd(F.col("adc_dist"), 4).alias("adc_dist"),
        "rank",
    ).orderBy("probe_id", "rank")


def _recall_oracle(k: int = 8, iters: int = 2, dim: int = 64) -> str:
    """DuckDB replay of vec_ann_recall_eval: the _ivf_oracle approx set
    joined against the exact brute-force top-5 (same fold-ordered
    cosine), per-probe recall@5."""
    dists = f"list_transform(s.cents, c -> {_sq_sql('p.e', 'c', dim)})"
    final = f"c{iters}"
    cos = (
        f"{_dot_sql('pr.e', 'ca.e', dim)}"
        f" / sqrt({_normsq_sql('pr.e')}) / sqrt({_normsq_sql('ca.e')})"
    )
    return f"""
    WITH {_kmeans_ctes(k, iters, dim)},
    idx AS MATERIALIZED (
      SELECT p.vec_id AS cand_id, p.e AS cand_vec,
             s.cells[list_position({dists}, list_aggregate({dists}, 'min'))]
               AS cell
      FROM v p, {final} s
    ),
    pcells AS (
      SELECT probe_id, probe_vec, cell FROM (
        SELECT probe_id, probe_vec, cell,
               row_number() OVER (PARTITION BY probe_id ORDER BY d, cell)
                 AS rn
        FROM (
          SELECT p.vec_id AS probe_id, p.e AS probe_vec,
                 unnest(s.cells) AS cell,
                 unnest({dists}) AS d
          FROM v p, {final} s WHERE p.vec_id < 10
        )
      ) WHERE rn <= 2
    ),
    approx AS (
      SELECT probe_id, cand_id FROM (
        SELECT probe_id, cand_id,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY sim DESC, cand_id) AS rank
        FROM (
          SELECT DISTINCT pc.probe_id, i.cand_id,
                 {_dot_sql('pc.probe_vec', 'i.cand_vec', dim)}
                   / sqrt({_normsq_sql('pc.probe_vec')})
                   / sqrt({_normsq_sql('i.cand_vec')}) AS sim
          FROM pcells pc JOIN idx i USING (cell)
          WHERE i.cand_id != pc.probe_id
        )
      ) WHERE rank <= 5
    ),
    exact AS (
      SELECT probe_id, cand_id FROM (
        SELECT pr.vec_id AS probe_id, ca.vec_id AS cand_id,
               row_number() OVER (PARTITION BY pr.vec_id
                                  ORDER BY {cos} DESC, ca.vec_id) AS rn
        FROM v pr JOIN v ca ON pr.vec_id < 10 AND ca.vec_id != pr.vec_id
      ) WHERE rn <= 5
    )
    SELECT e.probe_id,
           coalesce(h.n_hits, 0) AS n_hits,
           e.n_true,
           {R('CAST(coalesce(h.n_hits, 0) AS DOUBLE) / e.n_true', 4)}
             AS recall_at_5
    FROM (SELECT probe_id, count(*) AS n_true FROM exact GROUP BY probe_id) e
    LEFT JOIN (
      SELECT probe_id, count(*) AS n_hits
      FROM exact JOIN approx USING (probe_id, cand_id)
      GROUP BY probe_id
    ) h USING (probe_id)
    ORDER BY e.probe_id
    """


@query("vec_ann_recall_eval", oracle=_recall_oracle())
def vec_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality as DATA: per-probe recall@5 of the IVF index (k=8
    cells, nprobe=2) against exact brute-force cosine, plus the overall
    mean — the evaluation every production ANN deployment tracks next
    to its index (an index whose recall silently decays is worse than
    none). Ground truth reuses the same fold-ordered cosine as
    vec_cosine_topk; the comparison is a per-probe set intersection
    computed with one join.

    Tier A (r7 conversion): rides ``kmeans_fit_exact`` like vec_ann_ivf,
    so BOTH sides of the evaluation — the approximate index and the
    exact ground truth — are replayed by the DuckDB oracle and the
    recall numbers themselves hash-match."""
    from pyetl_spark.operators.ivf import (
        ivf_assign,
        ivf_topk,
        kmeans_fit_exact,
    )

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = kmeans_fit_exact(v, k=8, iters=2)
    indexed = ivf_assign(v, cents).select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec"), "cell"
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    approx = ivf_topk(probes, indexed, cents, k=5, nprobe=2).select(
        "probe_id", "cand_id"
    )
    # exact ground truth: same probe set, full corpus
    from pyspark.sql import Window as W

    c = v.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
    dot = F.aggregate(
        F.zip_with(F.col("probe_vec"), F.col("ce"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda col: F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    sim = dot / nrm(F.col("probe_vec")) / nrm(F.col("ce"))
    w = W.partitionBy("probe_id").orderBy(F.col("sim").desc(), "cand_id")
    exact = (
        F.broadcast(probes)
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("probe_id"))
        .withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "cand_id")
    )
    hits = exact.join(approx, ["probe_id", "cand_id"]).groupBy(
        "probe_id"
    ).agg(F.count("*").alias("n_hits"))
    per_probe = (
        exact.groupBy("probe_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "n_true",
            rnd(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_true"),
                4,
            ).alias("recall_at_5"),
        )
    )
    return per_probe.orderBy("probe_id")


@query(
    "dedup_embedding_lsh",
    oracle="""
    WITH o AS (SELECT vec_id FROM embeddings WHERE vec_id < 500),
    aug AS (
      SELECT vec_id FROM o
      UNION ALL SELECT vec_id + 100000 FROM o WHERE vec_id % 20 = 0
      UNION ALL SELECT vec_id + 200000 FROM o WHERE vec_id % 40 = 0
    )
    SELECT vec_id,
           CASE WHEN vec_id >= 200000 THEN vec_id - 200000
                WHEN vec_id >= 100000 THEN vec_id - 100000
                ELSE vec_id END AS keeper_id
    FROM aug ORDER BY vec_id
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup CLUSTER assignment at scale (north star:
    embedding near-dup as a first-class corpus op): SRP banding proposes
    neighbor candidates, exact cosine verifies ≤ ~2·bands edges per
    vector, connected components assign keepers — the corpus-linear twin
    of the quadratic `dedup_embedding_cosine` oracle fixture, sharing
    the skew-hardened edge machinery with `dedup_minhash_lsh`
    (operators/minhash._candidate_edges).

    Parameters are the realistic near-dup setting: threshold 0.9 with
    32-bit signatures in 8-bit bands — near pairs (cos ≥ 0.9) hit a
    band with p ≈ 1-(1-0.857⁸)⁴ ≈ 75 %+ (and usually connect through
    multiple routes), while random 64-d pairs land in the same band
    only ~1.5 % of the time, keeping the verify join corpus-linear.

    Tier A (r8 conversion, the r7 verdict's residual-ledger ask): the
    raw fixture has no cos ≥ 0.9 pairs (pinned per-SF in
    tests/test_approx_operators.py::test_embedding_fixture_has_no_near_pairs,
    so all-keep-self would be vacuous evidence). Instead the corpus is
    the id-bounded fixture slice PLUS planted EXACT copies at shifted
    ids (vec_id % 20 → +100000; % 40 → +200000). Exact copies are
    DETERMINISTICALLY recovered because ``embedding_dedup_assign``
    pre-collapses identical vectors before LSH (one groupBy; see its
    docstring for why in-bucket edge families alone can miss even
    identical pairs when random band collisions stand between them),
    and the no-near-pairs pin guarantees LSH adds no further merges —
    so the exact expected output is pure id arithmetic, which the
    oracle states. A broken pre-collapse, verify regression, component
    mislabel, or a spurious LSH merge each produce a hash mismatch.
    Quality on NEAR (non-identical) pairs stays pinned by the
    planted-cluster recovery test in tests/test_approx_operators.py
    (20 clusters × 8 members among 100 spread singletons — all
    recovered, nothing over-merged)."""
    from pyetl_spark.operators.knn import embedding_dedup_assign

    e = (
        load_tables(spark, sf_dir)
        .embeddings.filter(F.col("vec_id") < 500)
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("e"),
        )
    )
    aug = e.unionByName(
        e.filter(F.col("vec_id") % 20 == 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(100000)
        )
    ).unionByName(
        e.filter(F.col("vec_id") % 40 == 0).withColumn(
            "vec_id", F.col("vec_id") + F.lit(200000)
        )
    )
    return embedding_dedup_assign(
        aug, id_col="vec_id", vec_col="e", threshold=0.9,
        n_bits=32, bands=4, dim=64,
    ).orderBy("vec_id")


@query(
    "dedup_winnowing",
    oracle="""
    WITH o AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n
      FROM documents WHERE doc_id < 500
    ),
    aug AS (
      SELECT doc_id, n FROM o
      UNION ALL SELECT doc_id + 100000, n FROM o WHERE doc_id % 20 = 0
      UNION ALL SELECT doc_id + 200000, n FROM o WHERE doc_id % 40 = 0
    )
    SELECT doc_id,
           CASE WHEN n IS NULL OR n < 6 THEN doc_id
                WHEN doc_id >= 200000 THEN doc_id - 200000
                WHEN doc_id >= 100000 THEN doc_id - 100000
                ELSE doc_id END AS keeper_id
    FROM aug ORDER BY doc_id
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap near-dup clusters via winnowing fingerprints
    (north star: span-level dedup — quotes, boilerplate, edited copies
    that token-set Jaccard under-scores): docs cluster when ≥ 50 % of
    the smaller doc's fingerprints are shared. Reuses the salted edge
    machinery (fingerprint value = bucket key) + containment verify +
    connected components; corpus-linear, skew-bounded on hot
    boilerplate fingerprints.

    Tier A (r9 conversion — the dedup_embedding_lsh planted-fixture
    technique, adapted): the raw documents fixture is deliberately
    dup-heavy (30k+ natural J≥0.8 pairs in doc_id<500 alone), so
    unlike the embeddings table there is NO naturally merge-free slice
    whose expected output is statable without replaying xxhash64.
    Instead each base doc's tokens are NAMESPACED with its own id
    (tok → "id:tok"), which makes fingerprint sets pairwise DISJOINT
    across distinct docs by construction, then exact copies are
    planted at shifted ids (% 20 → +100000, % 40 → +200000) carrying
    their SOURCE's namespace. A fingerprint bucket therefore contains
    exactly one source and its copies — no interlopers — so the
    star/hub edges connect them directly, every verified edge has
    containment 1.0, and the component keeper is pure id arithmetic,
    which the oracle states (with the < k+w-1 = 6-token short-doc
    self-keep guard mirrored, though no fixture doc is that short).
    A broken fingerprint pass, edge family, containment verify, or
    component labeling each produce a hash mismatch. Cluster recovery
    on NATURAL (non-namespaced) text stays pinned by the
    planted-overlap tests in tests/test_approx_operators.py, and
    `text_winnowing_fingerprint` is the Tier-A oracle-matched
    fingerprint layer on the raw corpus. The 100 TB surface is
    `winnowing_dedup_assign` itself, unchanged."""
    from pyetl_spark.operators.text import winnowing_dedup_assign

    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 500)
    ns = d.select("doc_id", _ns_text().alias("text"))
    aug = ns.unionByName(
        ns.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
    ).unionByName(
        ns.filter(F.col("doc_id") % 40 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(200000)
        )
    )
    return winnowing_dedup_assign(
        aug, id_col="doc_id", text_col="text", threshold=0.5
    ).orderBy("doc_id")


@query("dedup_winnowing_corpus")  # Tier B — xxhash64 grams, rows-only
def dedup_winnowing_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`winnowing_dedup_assign` over the NATURAL full corpus — the
    100 TB surface and the bench scaling sentinel for the winnowing
    family (it grows with SF; the hash-checked `dedup_winnowing`
    planted form is id-bounded and deliberately does not).

    Rows-only by the same documented rationale as `dedup_minhash_lsh`:
    the gram hashes are xxhash64 (JVM-codegen'd, ~4× cheaper than the
    md5 hex round-trip on the hottest expression — see
    winnowing_dedup_assign), and DuckDB has no xxhash64, so the merge
    set is not replayable as SQL. The full edge/verify/CC machinery IS
    hash-verified through `dedup_winnowing`'s planted oracle; the
    fingerprint layer is hash-verified through
    `text_winnowing_fingerprint` (md5 variant); cluster recovery on
    natural text is pinned by the planted-overlap tests in
    tests/test_approx_operators.py."""
    from pyetl_spark.operators.text import winnowing_dedup_assign

    d = load_tables(spark, sf_dir).documents.select("doc_id", "text")
    return winnowing_dedup_assign(
        d, id_col="doc_id", text_col="text", threshold=0.5
    ).orderBy("doc_id")


@query(
    "dedup_minhash_incremental",
    oracle="""
    WITH o AS (SELECT doc_id FROM documents WHERE doc_id < 500)
    SELECT doc_id, doc_id AS keeper_id FROM o WHERE doc_id >= 400
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, doc_id AS keeper_id
    FROM o WHERE doc_id < 400 AND doc_id % 20 = 0
    ORDER BY doc_id
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup ingest (north star: a 100 TB corpus is not
    re-deduped per day — the daily batch joins a prebuilt LSH index):
    a deduplicated corpus slice is banded once (`minhash_dedup_assign`
    + `minhash_index`), then a new batch gets keepers via
    `minhash_assign_incremental` — cost O(|new|·bands) signatures +
    bucket joins, no corpus re-band.

    Tier A (r9 conversion, same construction as dedup_winnowing):
    corpus = docs < 400 with id-NAMESPACED token sets (pairwise
    J = 0 by construction, so the batch step keeps every doc — no
    xxhash64-dependent merge set to replay); new batch = docs
    400–499 (own namespaces → no index match → new keepers) plus
    planted exact copies of corpus docs (% 20 → +100000) carrying
    their source's namespace. A planted copy has the source's exact
    token set, hence identical signature and all 8 band buckets in
    common with it, and J = 1.0 at verify — and ONLY the source can
    verify (everything else is J = 0) — so its keeper is its source
    id and the whole expected output is id arithmetic, which the
    oracle states. A signature/banding drift, index build bug, bucket
    join miss, verify break, or min-keeper tie regression each
    produce a hash mismatch. Agreement of the incremental path with
    one-shot batch dedup on NATURAL tokens stays pinned by
    tests/test_approx_operators.py::test_minhash_incremental_matches_batch;
    the dup-heavy natural-corpus exercise lives in
    `dedup_minhash_lsh` (rows-only by its documented xxhash64
    rationale) and the bench sentinel."""
    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_dedup_assign,
        minhash_index,
    )

    base = load_tables(spark, sf_dir).documents.filter(
        F.col("doc_id") < 500
    ).select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split("text", " ")),
            lambda t: F.concat(F.col("doc_id").cast("string"), F.lit(":"), t),
        ).alias("tokens"),
    )
    corpus = base.filter(F.col("doc_id") < 400)
    new = base.filter(F.col("doc_id") >= 400).unionByName(
        corpus.filter(F.col("doc_id") % 20 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
    )
    assign = minhash_dedup_assign(corpus, threshold=0.8)
    kept = corpus.join(
        assign.filter(F.col("doc_id") == F.col("keeper_id")).select("doc_id"),
        "doc_id",
    )
    index = minhash_index(kept)
    return minhash_assign_incremental(
        new, index, kept, threshold=0.8
    ).orderBy("doc_id")


@query(
    "dedup_minhash_index_maintenance",
    oracle="""
    SELECT doc_id, doc_id AS keeper_id FROM documents
    WHERE doc_id BETWEEN 400 AND 449
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, doc_id AS keeper_id
    FROM documents WHERE doc_id BETWEEN 300 AND 399 AND doc_id % 10 = 0
    ORDER BY doc_id
    """,
)
def dedup_minhash_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The index-maintenance leg of the daily-ingest contract (r11,
    closes the loop `dedup_minhash_incremental` opens): day-2's NEW
    keepers are banded by `minhash_index_delta` and unioned into the
    index, and day-3 dups of day-2 NOVEL docs must then match — without
    the append they would silently self-keep and the corpus would
    accumulate near-duplicates batch over batch. Cost of the delta is
    O(|new keepers| · bands); the existing index is never re-read, so
    maintenance is as incremental as assignment.

    Tier A via the namespaced-planting construction of its sibling:
    corpus = docs < 300 with id-namespaced token sets (pairwise J = 0,
    deduplicated by construction — no xxhash64-dependent merge set);
    day 2 = docs 300–399 (novel, own namespaces) + exact copies of
    corpus docs (% 25 → +100000, carrying the source's namespace);
    day 3 = exact copies of day-2 NOVEL docs (% 10 → +200000) + fresh
    docs 400–449. A day-3 copy shares every band bucket with its day-2
    source (identical token set ⇒ identical signature) and ONLY that
    source can verify (everything else is J = 0), so the whole expected
    output is id arithmetic, which the oracle states. A delta that
    re-bands matched docs, misses a new keeper, or an assignment
    regression each produce a hash mismatch here. A delta that DROPS
    the stamped parameter metadata would NOT fail here (Union output
    attributes take the FIRST child's metadata, so index1's stamp
    masks it) — that regression is pinned directly by the lifecycle
    pytest's assertion on the delta frame's own metadata
    (tests/test_approx_operators.py::
    test_minhash_index_delta_closes_daily_ingest_loop, which also pins
    the parquet append mechanics and metadata survival across the
    mixed-file index)."""
    from pyetl_spark.operators.minhash import (
        minhash_assign_incremental,
        minhash_index,
        minhash_index_delta,
    )

    base = load_tables(spark, sf_dir).documents.filter(
        F.col("doc_id") < 450
    ).select(
        "doc_id",
        F.transform(
            F.array_distinct(F.split("text", " ")),
            lambda t: F.concat(F.col("doc_id").cast("string"), F.lit(":"), t),
        ).alias("tokens"),
    )
    corpus = base.filter(F.col("doc_id") < 300)
    novel2 = base.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400))
    day2 = novel2.unionByName(
        corpus.filter(F.col("doc_id") % 25 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(100000)
        )
    )
    index1 = minhash_index(corpus)
    # eager localCheckpoint (the etl_incremental_join_view pattern):
    # assign2 feeds BOTH index2 (via the delta) and corpus2, and a real
    # pipeline reads the day-2 assignment from disk — without the pin
    # the final action would replay the day-2 banding + verify once per
    # consumer. The frame is id-bounded (≤ ~112 rows at every SF).
    assign2 = minhash_assign_incremental(
        day2, index1, corpus
    ).localCheckpoint(eager=True)
    index2 = index1.unionByName(minhash_index_delta(day2, assign2))
    corpus2 = corpus.unionByName(
        day2.join(
            assign2.filter(F.col("doc_id") == F.col("keeper_id")).select(
                "doc_id"
            ),
            "doc_id",
        )
    )
    day3 = base.filter(F.col("doc_id") >= 400).unionByName(
        novel2.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(200000)
        )
    )
    return minhash_assign_incremental(day3, index2, corpus2).orderBy(
        "doc_id"
    )


@query(
    "text_count_min_freq",
    oracle=f"""
    WITH tok AS (
      SELECT t AS token
      FROM documents, unnest(string_split(lower(text), ' ')) AS u(t)
      WHERE t <> ''
    ),
    exact AS (
      SELECT token, count(*) AS exact_count FROM tok GROUP BY token
    ),
    cells AS (
      SELECT s.seed, ({PHASH60_SEEDED("s.seed", "token")}) % 4096 AS bucket,
             exact_count
      FROM exact CROSS JOIN (VALUES (0), (1), (2), (3)) s(seed)
    ),
    sk AS (
      SELECT seed, bucket, CAST(sum(exact_count) AS BIGINT) AS cnt
      FROM cells GROUP BY 1, 2
    ),
    probes AS (
      SELECT token, exact_count FROM exact
      ORDER BY exact_count DESC, token LIMIT 40
    ),
    pcells AS (
      SELECT p.token, p.exact_count, s.seed,
             ({PHASH60_SEEDED("s.seed", "p.token")}) % 4096 AS bucket
      FROM probes p CROSS JOIN (VALUES (0), (1), (2), (3)) s(seed)
    ),
    est AS (
      SELECT pc.token, pc.exact_count,
             min(coalesce(sk.cnt, 0)) AS est_count
      FROM pcells pc
      LEFT JOIN sk ON sk.seed = pc.seed AND sk.bucket = pc.bucket
      GROUP BY pc.token, pc.exact_count
    )
    SELECT token, exact_count, est_count,
           est_count - exact_count AS overcount
    FROM est
    """,
)
def text_count_min_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch term frequencies vs exact truth (north star:
    streaming/merged frequency stats where an exact per-term groupBy is
    too big to keep). The sketch is depth·width counters built in ONE
    bounded aggregate (operators/sketches.py); the probe set (the exact
    top-40 terms — the eval twin, same pattern as vec_ann_recall_eval)
    is re-hashed and broadcast-joined against it. Output carries both
    est and exact so the overestimate-only guarantee is visible; bounds
    are pinned in tests/test_approx_operators.py.

    Tier A via ``parity.phash60_seeded``: a CMS is DETERMINISTIC given
    its hash family, so with the cross-engine seeded hash the oracle
    rebuilds the identical (4 x 4096) counter table and replays the
    min-across-seeds point queries — sketch construction, bucket
    collisions, and the overestimate arithmetic all hash-checked.
    xxhash64 stays the operator default at scale.

    The sketch is built WEIGHTED over the exact (token, count) aggregate
    rather than per occurrence: mathematically the identical counter
    table (integer sums commute), but the 4·depth hashes run once per
    DISTINCT term instead of once per token — the map-side-combined
    groupBy carries the corpus, the hash cost is vocabulary-sized (the
    r5 scaling curve showed the per-occurrence form paying 5.1× wall at
    10× data; this shape decouples hash cost from corpus growth)."""
    from pyetl_spark.operators.sketches import cms_build, cms_estimate
    from pyetl_spark.parity import phash60_seeded

    d = load_tables(spark, sf_dir).documents
    tokens = d.select(
        F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    # r15 (guide §2.4): the exact (token, count) aggregate fed the
    # sketch build, the probe TakeOrdered, AND the probe re-join — three
    # corpus tokenize+groupBy passes. Pin the vocab-bounded aggregate
    # once (same class as the dsir ratio pin). The 40-row probe set is
    # NOT pinned (r16, VERDICT r15 item 5): its pin job cost more than
    # it saved — a TakeOrdered over the pinned vocab aggregate is a
    # sub-100ms scan of ExistingRDD, so running it once per consumer
    # (est input + final join) is cheaper than scheduling an extra
    # eager-checkpoint job for 40 rows.
    exact = (
        tokens.groupBy("token")
        .agg(F.count("*").alias("exact_count"))
        .localCheckpoint(eager=True)
    )
    sketch = cms_build(
        exact, weight_col="exact_count", depth=4, width=4096,
        seeded_hash=phash60_seeded,
    )
    probes = exact.orderBy(F.desc("exact_count"), "token").limit(40)
    est = cms_estimate(
        probes.select("token"), sketch, depth=4, width=4096,
        seeded_hash=phash60_seeded,
    )
    return (
        est.join(probes, "token")
        .select(
            "token",
            "exact_count",
            "est_count",
            (F.col("est_count") - F.col("exact_count")).alias("overcount"),
        )
        .orderBy(F.desc("exact_count"), "token")
    )


def _semdedup_oracle(iters: int = 2, dim: int = 64, tau: str = "0.99") -> str:
    """DuckDB replay of text_semdedup: dynamic k = max(8, n/250) exact
    k-means cells, then per-cell pairwise fold-ordered cosine with the
    lowest-earlier-id-above-tau representative rule."""
    k_sql = "SELECT greatest(8, count(*) // 250) FROM v"
    dists = f"list_transform(s.cents, c -> {_sq_sql('p.e', 'c', dim)})"
    final = f"c{iters}"

    def den(a: str) -> str:
        nsq = _normsq_sql(a)
        return (
            f"(CASE WHEN {nsq} = 0 THEN CAST(1.0 AS DOUBLE)"
            f" ELSE sqrt({nsq}) END)"
        )

    sim = (
        f"(({_dot_sql('l.e', 'e2.e', dim)} / {den('l.e')}) / {den('e2.e')})"
    )
    return f"""
    WITH {_kmeans_ctes(k_sql, iters, dim)},
    asg AS MATERIALIZED (
      SELECT p.vec_id, p.e,
             s.cells[list_position({dists}, list_aggregate({dists}, 'min'))]
               AS cell
      FROM v p, {final} s
    ),
    pairs AS (
      SELECT l.vec_id AS vid, min(e2.vec_id) AS dup_of
      FROM asg l JOIN asg e2
        ON l.cell = e2.cell AND e2.vec_id < l.vec_id
      WHERE {sim} > CAST({tau} AS DOUBLE)
      GROUP BY l.vec_id
    )
    SELECT a.vec_id, a.cell, (p.dup_of IS NULL) AS keep, p.dup_of
    FROM asg a LEFT JOIN pairs p ON p.vid = a.vec_id
    ORDER BY a.vec_id
    """


@query("text_semdedup", oracle=_semdedup_oracle())
def text_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup removal over the embeddings table:
    k-means partitions the space, exact cosine pairs are checked only
    WITHIN a cluster, dropped rows point at their lowest-id
    representative (operators/semdedup.py). The k×O((n/k)²) scale
    contract and the recall-vs-brute-force gate live in
    tests/test_approx_operators.py.

    k scales WITH the corpus (k = n/250, floor 8) so expected cluster
    size stays bounded — the r5 scaling curve caught the fixed-k=8 form
    going superlinear (3× data → 3.42× wall: the O((n/k)²) within-cluster
    term with k frozen); SemDeDup's own prescription is k ∝ n (LAION ran
    k=50k). The count() that sizes k is one cheap column-less scan — at
    production scale it comes from table stats instead.

    Tier A (r7 conversion): rides ``semdedup_assign_exact`` — exact
    k-means (phash60 seeds, integer-quantized means) + fold-ordered
    in-cell cosine — so the DuckDB oracle (``_semdedup_oracle``, dynamic
    k via the same greatest(8, n//250)) replays the whole clustered
    dedup and the keep/dup_of assignments hash-match."""
    from pyetl_spark.operators.semdedup import semdedup_assign_exact

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    k = max(8, v.count() // 250)
    return semdedup_assign_exact(v, k=k, tau=0.99, iters=2).orderBy("vec_id")


def _mmr_oracle(k: int = 10, pool: int = 30, dim: int = 64) -> str:
    """DuckDB replay of vec_mmr_diversify: fold-ordered brute-force
    top-``pool`` retrieval, then ``k`` textually-unrolled greedy MMR
    steps — per step, the (score DESC, cand_id) row_number pick mirrors
    mmr_select's exact-float-tie lowest-id argmax, and the max-sim state
    update mirrors np.maximum with the (dot/den_c)/den_pick cosine."""
    lam = "CAST(0.7 AS DOUBLE)"
    oml = f"(CAST(1.0 AS DOUBLE) - {lam})"

    def den(a: str) -> str:
        nsq = _normsq_sql(a)
        return (
            f"(CASE WHEN {nsq} = 0 THEN CAST(1.0 AS DOUBLE)"
            f" ELSE sqrt({nsq}) END)"
        )

    score = f"{lam} * rel - {oml} * ms"
    rel_sim = (
        f"{_dot_sql('p.e', 'c.e', dim)}"
        f" / sqrt({_normsq_sql('p.e')}) / sqrt({_normsq_sql('c.e')})"
    )
    upd_sim = (
        f"(({_dot_sql('s.cv', 'p.pick_vec', dim)} / {den('s.cv')})"
        f" / {den('p.pick_vec')})"
    )
    parts = [
        f"""v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    st0 AS MATERIALIZED (
      SELECT probe_id, cand_id, cv, rel,
             CAST(0.0 AS DOUBLE) AS ms, false AS chosen
      FROM (
        SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, c.e AS cv,
               {rel_sim} AS rel,
               row_number() OVER (PARTITION BY p.vec_id
                                  ORDER BY {rel_sim} DESC, c.vec_id) AS rn
        FROM v p JOIN v c ON p.vec_id < 5 AND c.vec_id != p.vec_id
      ) WHERE rn <= {pool}
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(
            f"""pick{i} AS MATERIALIZED (
      SELECT probe_id, cand_id AS pick_id, cv AS pick_vec,
             {score} AS score
      FROM (
        SELECT probe_id, cand_id, cv, rel, ms,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY {score} DESC, cand_id) AS rn
        FROM st{i - 1} WHERE NOT chosen
      ) WHERE rn = 1
    ),
    st{i} AS MATERIALIZED (
      SELECT s.probe_id, s.cand_id, s.cv, s.rel,
             greatest(s.ms, {upd_sim}) AS ms,
             s.chosen OR (s.cand_id = p.pick_id) AS chosen
      FROM st{i - 1} s JOIN pick{i} p USING (probe_id)
    )"""
        )
    unions = "\n      UNION ALL ".join(
        f"SELECT probe_id, pick_id AS cand_id, CAST({i} AS INT) AS mmr_rank,"
        f" score AS mmr_score FROM pick{i}"
        for i in range(1, k + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f"""
    {unions}
    ORDER BY probe_id, mmr_rank
    """
    )


@query("vec_mmr_diversify", oracle=_mmr_oracle())
def vec_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified top-k (MMR λ=0.7): stage-1 brute-force cosine top-30
    per probe (the distributed retrieval), stage-2 greedy MMR re-rank
    per probe pool inside applyInPandas (operators/mmr.py). Exactness of
    the greedy loop vs a NumPy reference is engine-tested in
    tests/test_approx_operators.py.

    Tier A (r7 conversion): ``mmr_rerank_exact`` builds the in-pool
    cosine matrix with dimension-ascending accumulation, so every float
    in the greedy loop is a fixed-order IEEE value and the DuckDB oracle
    (``_mmr_oracle``, k unrolled pick/update stages) replays the whole
    diversified ranking — scores included — bit-for-bit."""
    from pyetl_spark.operators.knn import cosine_topk_bruteforce
    from pyetl_spark.operators.mmr import mmr_rerank_exact

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    probes = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    corpus = v.select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec")
    )
    cands = cosine_topk_bruteforce(probes, corpus, k=30).select(
        "probe_id", "cand_id", F.col("sim").alias("rel")
    )
    pool = cands.join(corpus, "cand_id")
    return mmr_rerank_exact(pool, k=10, lam=0.7).orderBy("probe_id", "mmr_rank")


@query(
    "multimodal_frame_sample",
    oracle=f"""
    WITH {_media_stream_sql(where="WHERE doc_id < 200")},
    rz AS (
      -- resize 8x8 -> 4x4 by linspace index sampling: rows/cols
      -- [0,2,4,7], quantized back to the SAME source bytes
      -- (b/255*255 rounds to b exactly); payload hex = those 16
      -- byte-slices of the stream, concatenated in row-major order
      SELECT media_id,
             list_reduce(
               list_prepend('', list_transform(
                 [0,2,4,7,16,18,20,23,32,34,36,39,56,58,60,63],
                 k -> substring(stream, 2*k + 1, 2))),
               (a, b) -> a || b) AS rhex
      FROM mstream
    ),
    rs AS (SELECT media_id, sha256(rhex) AS seed FROM rz),
    rstream AS (
      SELECT media_id,
             sha256(seed || '|0') || sha256(seed || '|1') AS stream
      FROM rs
    )
    SELECT media_id, CAST(f.i AS INT) AS frame_idx,
           substring(sha256(substring(stream, 16*f.i + 1, 16)), 1, 16)
             AS frame_hash
    FROM rstream, (SELECT unnest([0, 2, 4, 6]) AS i) f
    ORDER BY media_id, frame_idx
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling pipeline: binary blobs → resize →
    every-2nd-frame explode → per-frame content hash (the join key for
    frame-level dedup). Decode is the honest deterministic stub
    (operators/multimodal.py); the Spark plumbing — binary columns,
    mapInPandas streaming batches, frame-row explosion, no blob ever in
    a shuffle — is the production shape.

    Tier A (r8 conversion): the whole fake-on-fake composition is
    replayed by the oracle — the resize emits quantized uint8 bytes
    (byte-exact round trip), sample_frames decodes the RESIZED payload
    through the stub again (a second sha256 chain seeded by the resized
    payload's hex), and the frame hash is sha256 over the frame's
    lowercase hex (a VARCHAR both engines hash identically; hashing raw
    binary would be Spark-only). Every link — encode, chain, resize
    index math, re-chain, slice, hash — must agree for the value hash
    to match."""
    from pyetl_spark.operators.multimodal import (
        attach_fake_media,
        resize_images,
        sample_frames,
    )

    d = load_tables(spark, sf_dir).documents.filter(F.col("doc_id") < 200)
    media = resize_images(attach_fake_media(d), out_w=4, out_h=4)
    frames = sample_frames(media, every_nth=2)
    return frames.select(
        "media_id",
        "frame_idx",
        F.sha2(F.lower(F.hex(F.col("frame"))), 256)
        .substr(1, 16)
        .alias("frame_hash"),
    ).orderBy("media_id", "frame_idx")


@query("pipeline_curation_full")  # Tier B — composed pipeline, rows-only
def pipeline_curation_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus curation funnel, composed from this
    engine's own stages — the query a reference user runs end-to-end:

      raw → URL-key dedup (crawl layer) → exact content dedup →
      MinHash near-dup cluster drop → learned quality gate →
      audit funnel

    Output is the per-stage audit table (stage_idx, stage, n_docs) every
    production curation run ships with its dataset card. Each stage is
    the scale-shape documented at its home operator: URL/content dedup
    are hash-groupBys, near-dup is banding + components
    (minhash_dedup_assign), the quality gate is the broadcast-weights
    sigmoid (quality_model) — so the funnel inherits linearity from its
    parts.

    Audit counting is DROP-STAGE LABELING, not one action per stage
    (r10): the pre-r10 form counted each surviving frame separately —
    at 100 TB that is four full corpus passes (plus three corpus-scale
    persists) just to fill a 5-row table. Both dedup ranks are stacked
    as window columns in ONE lineage — the exact-content rank orders
    url-keepers FIRST inside each md5(text) partition, so "min-id
    url-survivor of this text" is a flag, not a second pass — and the
    raw/url/exact counts come from ONE aggregate over that frame. The
    near-dup/quality counts come from one aggregate over the survivor
    frame (the gate score is a broadcast-weights expression, so
    acceptance is a flag too).

    r15 (guide §8): the rank windows run over a PROXY frame of
    (doc_id, url_key, md5(text)) — the document payload never enters a
    window shuffle; survivors are re-attached by ONE id join (broadcast
    at fixture scale, SMJ/bloom at 100 TB). Corpus-wide work: one
    narrow counting pass + one materialization of the exact-survivor
    frame (pinned once — it feeds the MinHash assign, the featurizer,
    and the tail aggregate), plus the MinHash/CC machinery itself.
    Audit values bit-identical at sf0.001/0.01/0.1 (old-vs-new).
    """
    from pyspark.sql import Window

    from pyetl_spark.operators.minhash import minhash_dedup_assign
    from pyetl_spark.operators.quality_model import (
        featurize,
        fit_quality_model,
        sample_for_training,
        score_expr,
    )

    d = load_tables(spark, sf_dir).documents

    # 1+2. URL-key dedup rank (same deterministic synthetic URLs as
    # text_url_canonicalize, keep the lowest doc_id per canonical key)
    # and exact-content rank, stacked in one lineage. The content
    # window orders url-KEEPERS first (by their url rank, then id), so
    # _r_txt == 1 on a url-keeper row means "min-id url-survivor of
    # this exact text" — exact dedup among url survivors without
    # filtering into a second pass.
    url_key = F.md5(
        F.concat(
            F.lower("source"),
            F.lit("/p/"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("?b="),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("&a="),
            (F.col("doc_id") % 5).cast("string"),
        )
    )
    # r15 (guide §8 — decide with small rows, move big rows once): both
    # dedup ranks are computed over a PROXY frame of (doc_id, url_key,
    # md5(text)) — ~80 bytes/row — so the two window shuffles never
    # carry the document payload; the pre-r15 form ranked the full
    # corpus rows, shuffling every text twice to compare two hashes.
    # The payload moves exactly once: the survivor-id join below (at
    # fixture scale the id set broadcasts, so the scan isn't shuffled
    # at all; at 100 TB it is one SMJ/bloom-prefiltered pass — §3.2).
    # Rank semantics are unchanged: same keys, same orders, row_number
    # over a unique-ordered window is deterministic, so the survivor
    # SET — and every count below — is bit-identical to the ranked-
    # payload form (verified old-vs-new at 3 SFs).
    w_url = Window.partitionBy("_uk").orderBy("doc_id")
    w_txt = Window.partitionBy("_tk").orderBy("_r_url", "doc_id")
    flags = (
        d.select("doc_id", url_key.alias("_uk"), F.md5("text").alias("_tk"))
        .withColumn("_r_url", F.row_number().over(w_url))
        .withColumn("_r_txt", F.row_number().over(w_txt))
        .persist()
    )
    url_keep = F.col("_r_url") == 1
    exact_keep = url_keep & (F.col("_r_txt") == 1)

    # Everything that touches the pinned frames runs under try/finally:
    # any failed action in between (e.g. fit_quality_model's over-cap
    # refusal) must not leak a persist for the session.
    try:
        # head counts: raw / url survivors / exact survivors — ONE pass
        # over the proxy flags (no payload column is needed to count)
        head = flags.agg(
            F.count(F.lit(1)).alias("raw"),
            F.count_if(url_keep).alias("url"),
            F.count_if(exact_keep).alias("exact"),
        ).collect()[0]

        # the one corpus-scale pin of the funnel: the exact-survivor
        # frame with its payload, read by the MinHash assign's banding
        # + both verify sides, the keeper join, and the tail aggregate.
        # INVARIANT (r15 ADVICE): doc_id is unique in documents (the
        # fixture's primary key), so this inner join selects exactly
        # the flagged survivor rows — under duplicate ids it would
        # multiply rows and silently diverge from the head counts
        # computed off `flags` above.
        exact = d.join(
            flags.filter(exact_keep).select("doc_id"), "doc_id"
        ).persist()

        try:
            # 3. near-dup cluster drop (keepers only)
            toks = exact.select(
                "doc_id",
                F.array_distinct(F.split("text", " ")).alias("tokens"),
            )
            assign = minhash_dedup_assign(toks, threshold=0.8)
            keepers = exact.join(
                assign.filter(F.col("doc_id") == F.col("keeper_id")).select(
                    "doc_id"
                ),
                "doc_id",
            )

            # 4. learned quality gate — train on a CONSTANT-count
            # hash-ordered sample of the survivors
            # (TakeOrderedAndProject, O(cap) driver memory at any corpus
            # size; the enforcement lives in fit_quality_model, which
            # refuses over-cap inputs)
            feats = featurize(keepers)
            labeled = feats.withColumn(
                "label",
                (
                    (F.col("n_chars") > 120) & (F.col("digit_ratio") < 0.2)
                ).cast("double"),
            )
            sample = sample_for_training(labeled)
            wts, b = fit_quality_model(sample)
            # tail counts: near-dup survivors / gate acceptances — ONE
            # pass over the survivor frame (the gate is a
            # broadcast-weights scalar expression, so acceptance is a
            # flag, not a filtered re-count)
            tail = feats.agg(
                F.count(F.lit(1)).alias("near"),
                F.count_if(score_expr(wts, b) > 0.5).alias("quality"),
            ).collect()[0]
        finally:
            exact.unpersist()
    finally:
        flags.unpersist()

    stages = [
        ("raw", head["raw"]),
        ("url_dedup", head["url"]),
        ("exact_dedup", head["exact"]),
        ("near_dedup", tail["near"]),
        ("quality_gate", tail["quality"]),
    ]
    return spark.createDataFrame(
        [(i, name, n) for i, (name, n) in enumerate(stages)],
        "stage_idx int, stage string, n_docs long",
    ).orderBy("stage_idx")


def _scratch_index_dir(prefix: str) -> str:
    """Fresh per-run scratch dir for a persisted-index lifecycle key.

    The query phase READS the returned path back as its
    correctness-critical input, so concurrent runs (test suite + bench,
    parallel CI) must never interleave overwrite with read — mkdtemp is
    unique per call. Retention: dirs with the SAME prefix from PRIOR
    runs are pruned so repeated sweep/bench/test runs don't accumulate
    unbounded parquet artifacts. Horizon: 24h, NOT "longer than a
    query" (r12 ADVICE) — a concurrent suite+bench CI pair can hold a
    build-to-read span well over an hour (the full pytest wall alone is
    ~25 min and growing), and a live index deleted mid-query fails with
    a missing-path read; nothing legitimate spans a day, and a day of
    sf0.1-scale index artifacts is a few hundred MB, an acceptable
    bound for a scratch area."""
    import os
    import shutil
    import tempfile
    import time as _time

    root = os.path.join(
        os.environ.get("PYETL_SCRATCH", tempfile.gettempdir()),
        "pyetl_spark_index",
    )
    os.makedirs(root, exist_ok=True)
    cutoff = _time.time() - 24 * 3600
    for name in os.listdir(root):
        p = os.path.join(root, name)
        try:
            if name.startswith(prefix) and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # raced with a concurrent prune — someone else removed it
    return tempfile.mkdtemp(prefix=prefix, dir=root)


@query("vec_ann_ivf_persisted", oracle=_ivf_oracle())
def vec_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index LIFECYCLE: build once, persist, query from the persisted
    form — the shape that matters at 100 TB, where the k-means fit + cell
    assignment is a nightly job and every retrieval query afterwards must
    NOT repeat it. The index is two parquet artifacts: the k-row centroid
    table and the corpus partitioned BY CELL (Hive layout), so a probe
    that searches nprobe cells reads only those cell directories —
    partition pruning turns nprobe/k into a file-listing fraction, not
    just a row fraction. Query phase re-reads both artifacts cold (no
    lineage back to the build) and must produce the same neighbors as the
    in-memory path (asserted in tests/test_ivf.py).

    Tier A (r7 conversion): the build rides ``kmeans_fit_exact`` like
    vec_ann_ivf, and persisting is a LAYOUT change only (parquet
    round-trips the centroid/corpus doubles losslessly), so the SAME
    ``_ivf_oracle`` pins the persisted query path — the hash match
    proves the index survived the disk round-trip bit-exactly.

    Maintenance (r13 note): the plain-IVF append needs no dedicated
    operator — the inverted file stores FULL vectors, so a daily batch
    is exactly ``ivf_assign(new, cents)`` appended to the
    cell-partitioned corpus (parquet append lands inside the right
    cell directories). The compressed path, where the append must
    re-encode against existing fitted state, is the non-trivial case —
    that lifecycle is ``ivfpq_index_delta`` /
    vec_ann_ivfpq_index_maintenance, and its drift rule
    (``ivfpq_batch_mse``) applies to this index's centroids equally."""
    import os

    from pyetl_spark.operators.ivf import (
        ivf_assign,
        ivf_topk,
        kmeans_fit_exact,
    )

    base = _scratch_index_dir("ivf_")
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # build + persist (the nightly job)
    cents = kmeans_fit_exact(v, k=8, iters=2)
    cents.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    ivf_assign(v, cents).write.partitionBy("cell").mode("overwrite").parquet(
        os.path.join(base, "corpus")
    )
    # query phase: cold read of the persisted index only
    cents_idx = spark.read.parquet(os.path.join(base, "centroids"))
    corpus_idx = spark.read.parquet(os.path.join(base, "corpus")).select(
        F.col("vec_id").alias("cand_id"), F.col("e").alias("cand_vec"), "cell"
    )
    probes = v.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    return ivf_topk(probes, corpus_idx, cents_idx, k=5, nprobe=2).orderBy(
        "probe_id", "rank"
    )


@query("vec_ann_ivfpq_persisted", oracle=_ivfpq_oracle())
def vec_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index LIFECYCLE (r12): build once, persist, query from the
    persisted form — the vec_ann_ivf_persisted contract applied to the
    composed index, where it matters even more because what persists is
    the COMPRESSED inverted file. Three parquet artifacts: the k-row
    coarse centroid table, the m×k residual codebook, and the PQ codes
    partitioned BY CELL — so an nprobe search prunes to the probed
    cells' directories AND the bytes it reads there are 4-bit codes,
    not vectors: the 32× memory arithmetic holds ON DISK too (at 10^9
    vectors the full-vector inverted file is ~256 GB of float32 where
    the code file is ~8 GB). The query phase cold-reads all three
    artifacts (no lineage back to the build) and must produce the same
    neighbors as the in-memory path.

    Tier A: the build rides kmeans_fit_exact + pq_fit_exact like
    vec_ann_ivfpq, and persisting is a LAYOUT change only (parquet
    round-trips the centroid/codebook doubles and the integer codes
    losslessly), so the SAME ``_ivfpq_oracle`` pins the persisted query
    path — the hash match proves the composed index survived the disk
    round-trip bit-exactly."""
    base = ivfpq_bench_build(spark, sf_dir)
    return ivfpq_bench_search(base)(spark, sf_dir)


def ivfpq_bench_build(spark: SparkSession, sf_dir: str) -> str:
    """The IVF-PQ NIGHTLY BUILD, persisted: coarse fit + residual-PQ fit
    + encode, written as the three index artifacts. Returns the artifact
    dir. Shared by vec_ann_ivfpq_persisted (which chains build + search
    for the hash-verified lifecycle) and bench.py's build/search split
    (r13, VERDICT r12 item 4: the build is measured ONCE per suite — the
    nightly-job number — instead of being re-fit three times to measure
    one sub-second search)."""
    import os

    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import ivfpq_encode, ivfpq_residuals
    from pyetl_spark.operators.pq import pq_fit_exact

    base = _scratch_index_dir("ivfpq_")
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    # build + persist (the nightly job); residual frame pinned for the
    # same multi-consumer reason as vec_ann_ivfpq
    cents = kmeans_fit_exact(v, k=8, iters=2)
    res = ivfpq_residuals(ivf_assign(v, cents), cents).localCheckpoint(
        eager=True
    )
    cb = pq_fit_exact(
        res, id_col="vec_id", vec_col="r", m=8, k=16, dim=64, iters=2
    )
    codes = ivfpq_encode(res, cb, m=8, dim=64, k=16)
    cents.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(base, "codebook"))
    codes.write.partitionBy("cell").mode("overwrite").parquet(
        os.path.join(base, "codes")
    )
    return base


def ivfpq_bench_search(base: str):
    """(spark, sf_dir) -> DataFrame: the SERVING leg — cold read of the
    persisted artifacts only, nprobe-pruned ADC search. This is the
    query a retrieval service runs thousands of times per index build;
    bench.py measures its median-of-3 separately from the build."""
    import os

    from pyetl_spark.operators.ivfpq import ivfpq_topk

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cents_idx = spark.read.parquet(os.path.join(base, "centroids"))
        cb_idx = spark.read.parquet(os.path.join(base, "codebook"))
        codes_idx = spark.read.parquet(os.path.join(base, "codes"))
        e = load_tables(spark, sf_dir).embeddings
        probes = (
            e.select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: x.cast("double")
                ).alias("e"),
            )
            .filter(F.col("vec_id") < 5)
            .select(
                F.col("vec_id").alias("probe_id"),
                F.col("e").alias("probe_vec"),
            )
        )
        out = ivfpq_topk(
            probes,
            codes_idx,
            cb_idx,
            cents_idx,
            m=8,
            dim=64,
            topk=5,
            nprobe=2,
            exclude_self=True,
        )
        return out.select(
            "probe_id",
            F.col("id").alias("neighbor_id"),
            rnd(F.col("adc_dist"), 4).alias("adc_dist"),
            "rank",
        ).orderBy("probe_id", "rank")

    return fn


@query(
    "vec_ann_ivfpq_index_maintenance",
    oracle=_ivfpq_oracle(
        train_where="WHERE vec_id % 5 != 4",
        delta_where="WHERE vec_id % 5 = 4",
    ),
)
def vec_ann_ivfpq_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The index-maintenance leg of the persisted IVF-PQ lifecycle
    (r13, VERDICT r12 item 5 — the contract dedup_minhash_index_maintenance
    pins for near-dup, applied to ANN): day-1 builds the index (coarse
    fit + residual-PQ fit + encode on 80% of the corpus, vec_id % 5 != 4),
    day-2 vectors are appended via ``ivfpq_index_delta`` — assigned to
    the EXISTING coarse centroids and encoded with the EXISTING
    codebook, NO retrain, cost O(|new|) — and search then runs over the
    union. Probe vec_id=4 IS a day-2 vector: without the append it
    would be unfindable (and find nothing near itself), so a delta that
    drops rows, re-fits, or encodes under the wrong codebook moves the
    hash. The parameter-stamp fail-fast on mismatched (m, dim, k)
    appends and the parquet-append mechanics are pinned by
    tests/test_pq.py::test_ivfpq_index_delta_closes_daily_ingest_loop;
    drift monitoring (``ivfpq_batch_mse`` build-vs-batch ratio, the
    retrain trigger) by test_ivfpq_batch_mse_drift_signal.

    Tier A end-to-end: the fit legs ride the same exact-arithmetic
    construction as vec_ann_ivfpq, and the delta leg is assignment +
    encode only (argmin over integer-quantized centroids — no new
    fitted state), so the SAME oracle generator replays both days
    (``_ivfpq_oracle(train_where=…, delta_where=…)``) and hash-matches
    the merged-index search at 4dp."""
    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_index_delta,
        ivfpq_residuals,
        ivfpq_topk,
    )
    from pyetl_spark.operators.pq import pq_fit_exact

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    day1 = v.filter(F.col("vec_id") % 5 != 4)
    day2 = v.filter(F.col("vec_id") % 5 == 4)
    # day-1 nightly build (the persisted artifacts of
    # vec_ann_ivfpq_persisted; kept in-memory here — the disk round-trip
    # is that key's subject, the append algebra is this one's)
    cents = kmeans_fit_exact(day1, k=8, iters=2)
    res1 = ivfpq_residuals(ivf_assign(day1, cents), cents).localCheckpoint(
        eager=True
    )
    cb = pq_fit_exact(
        res1, id_col="vec_id", vec_col="r", m=8, k=16, dim=64, iters=2
    )
    codes1 = ivfpq_encode(res1, cb, m=8, dim=64, k=16)
    # day-2 append: assign-to-existing + encode-with-existing only
    delta = ivfpq_index_delta(
        day2, cents, cb, m=8, dim=64, k=16, codes=codes1
    )
    codes = codes1.unionByName(delta)
    probes = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    out = ivfpq_topk(
        probes,
        codes,
        cb,
        cents,
        m=8,
        dim=64,
        topk=5,
        nprobe=2,
        exclude_self=True,
    )
    return out.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        rnd(F.col("adc_dist"), 4).alias("adc_dist"),
        "rank",
    ).orderBy("probe_id", "rank")


@query("vec_ann_ivfpq_recall_eval", oracle=_ivfpq_oracle(recall=True))
def vec_ann_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the COMPOSED IVF-PQ index against exact brute-force
    squared-L2 ground truth, per probe (r13 — extends "recall is
    measured, not assumed" from the plain IVF index,
    vec_ann_recall_eval, to the flagship compressed index, where recall
    loss has TWO sources the plain index doesn't: cell pruning misses
    AND 4-bit quantization error re-ranking true neighbors out of the
    top-k). Both sides use the same fold-ordered squared-L2 with
    (dist, id) tie-break and self excluded; the comparison is one
    per-probe set-intersection join.

    Tier A: the approximate side rides the vec_ann_ivfpq construction
    (exact-arithmetic fits) and the exact side is pure fold algebra, so
    the DuckDB oracle (``_ivfpq_oracle(recall=True)``) replays the
    ENTIRE evaluation and the recall numbers themselves hash-match —
    the index's quality metric is pinned, not just its output rows.

    What the number MEANS on this fixture: the synthetic embeddings are
    near-uniform random — the adversarial case for product
    quantization (no cluster structure for the coarse cells to exploit,
    and 16 codewords per 8-dim subspace leave large residual
    distortion), so measured recall@5 at (coarse_k=8, nprobe=2, m=8,
    k=16) is LOW here (0.0–0.6 per probe at sf0.01) — which is exactly
    the honest reading this eval exists to surface: on structureless
    data, 32× compression costs recall, and a deployment would raise
    nprobe/k or skip PQ. On clustered data the same construction
    recalls ≥0.6 with strict cell containment
    (tests/test_pq.py::test_ivfpq_recall_and_cell_pruning_on_clustered_data);
    real embedding corpora sit between the two, which is why the metric
    ships as a query next to the index instead of a one-off test."""
    from pyspark.sql import Window as W

    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_residuals,
        ivfpq_topk,
    )
    from pyetl_spark.operators.pq import _sq_dist, pq_fit_exact

    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    cents = kmeans_fit_exact(v, k=8, iters=2)
    res = ivfpq_residuals(ivf_assign(v, cents), cents).localCheckpoint(
        eager=True
    )
    cb = pq_fit_exact(
        res, id_col="vec_id", vec_col="r", m=8, k=16, dim=64, iters=2
    )
    codes = ivfpq_encode(res, cb, m=8, dim=64, k=16)
    probes = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    approx = ivfpq_topk(
        probes,
        codes,
        cb,
        cents,
        m=8,
        dim=64,
        topk=5,
        nprobe=2,
        exclude_self=True,
    ).select("probe_id", F.col("id").alias("cand_id"))
    # exact ground truth: broadcast-probe linear corpus scan (the
    # vec_cosine_topk shape), squared L2 to match what PQ approximates
    c = v.select(F.col("vec_id").alias("cand_id"), F.col("e").alias("ce"))
    w = W.partitionBy("probe_id").orderBy(
        _sq_dist(F.col("probe_vec"), F.col("ce")), "cand_id"
    )
    exact = (
        F.broadcast(probes)
        .crossJoin(c)
        .filter(F.col("cand_id") != F.col("probe_id"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("probe_id", "cand_id")
    )
    hits = exact.join(approx, ["probe_id", "cand_id"]).groupBy(
        "probe_id"
    ).agg(F.count("*").alias("n_hits"))
    return (
        exact.groupBy("probe_id")
        .agg(F.count("*").alias("n_true"))
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            "n_true",
            rnd(
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("n_true"),
                4,
            ).alias("recall_at_5"),
        )
        .orderBy("probe_id")
    )


@query(
    "vec_ann_ivfpq_compacted",
    oracle=_ivfpq_oracle(
        train_where="WHERE vec_id % 5 != 4",
        delta_where="WHERE vec_id % 5 = 4",
    ),
)
def vec_ann_ivfpq_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL on-disk IVF-PQ lifecycle in one hash-verified key (r13):
    nightly build persisted as the three artifacts → day-2 batch
    encoded STREAM-STYLE (``encode_vectors_batch``, the foreachBatch
    kernel, landed under its batch_id partition) → between-runs
    COMPACTION (``compact_ingested_codes``: batch partitions folded
    into a fresh cell-partitioned codes table, newest generation wins)
    → search cold from the COMPACTED artifacts. Each stage is what a
    production retrieval service actually runs; this key pins that the
    chain is lossless end-to-end.

    Tier A via the same oracle as vec_ann_ivfpq_index_maintenance:
    ingest is the identical no-retrain encode (assign-to-existing +
    encode-with-existing) and compaction is a LAYOUT-ONLY
    reorganization (ids disjoint across days here, so newest-wins is a
    no-op and the compacted rows equal the union exactly) — so the
    search result must hash-match the in-memory maintenance replay. A
    compaction that drops rows, duplicates a generation, loses the
    cell column on re-partitioning, or corrupts codes through the
    double disk round-trip moves the hash."""
    import os

    from pyetl_spark.operators.ivf import ivf_assign, kmeans_fit_exact
    from pyetl_spark.operators.ivfpq import (
        ivfpq_encode,
        ivfpq_residuals,
        ivfpq_topk,
    )
    from pyetl_spark.operators.pq import pq_fit_exact
    from pyetl_spark.streaming.corpus import (
        compact_ingested_codes,
        encode_vectors_batch,
    )

    base = _scratch_index_dir("ivfpqc_")
    e = load_tables(spark, sf_dir).embeddings
    v = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    day1 = v.filter(F.col("vec_id") % 5 != 4)
    # nightly build, persisted (same artifacts as vec_ann_ivfpq_persisted)
    cents = kmeans_fit_exact(day1, k=8, iters=2)
    res1 = ivfpq_residuals(ivf_assign(day1, cents), cents).localCheckpoint(
        eager=True
    )
    cb = pq_fit_exact(
        res1, id_col="vec_id", vec_col="r", m=8, k=16, dim=64, iters=2
    )
    cents.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(base, "codebook"))
    ivfpq_encode(res1, cb, m=8, dim=64, k=16).write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(os.path.join(base, "codes"))
    # day-2 ingest: the streaming foreachBatch kernel, cold artifacts
    cents_idx = spark.read.parquet(os.path.join(base, "centroids"))
    cb_idx = spark.read.parquet(os.path.join(base, "codebook"))
    codes_idx = spark.read.parquet(os.path.join(base, "codes"))
    day2 = e.filter(F.col("vec_id") % 5 == 4).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    encode_vectors_batch(
        day2,
        0,
        cents_idx,
        cb_idx,
        os.path.join(base, "ingested"),
        m=8,
        dim=64,
        k=16,
        codes=codes_idx,
    )
    # between-runs compaction into a fresh cell-partitioned table
    compact_ingested_codes(
        spark,
        os.path.join(base, "codes"),
        os.path.join(base, "ingested"),
        os.path.join(base, "codes_v2"),
    )
    codes_v2 = spark.read.parquet(os.path.join(base, "codes_v2"))
    probes = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), F.col("e").alias("probe_vec")
    )
    out = ivfpq_topk(
        probes,
        codes_v2,
        cb_idx,
        cents_idx,
        m=8,
        dim=64,
        topk=5,
        nprobe=2,
        exclude_self=True,
    )
    return out.select(
        "probe_id",
        F.col("id").alias("neighbor_id"),
        rnd(F.col("adc_dist"), 4).alias("adc_dist"),
        "rank",
    ).orderBy("probe_id", "rank")


@query(
    "dedup_incremental_bloom",
    oracle="""
    WITH hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    today AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE doc_id % 2 = 1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_today,
           CAST(count(*) FILTER (WHERE h IN (SELECT h FROM hist))
                AS BIGINT) AS n_dup_vs_history,
           CAST(count(*) FILTER (WHERE h NOT IN (SELECT h FROM hist))
                AS BIGINT) AS n_new
    FROM today GROUP BY source
    """,
)
def dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup with a Bloom seen-set (operators/bloom.py):
    classify today's batch against the full corpus HISTORY without joining
    the whole batch to the whole history. The history's content hashes
    fold into a bit-set once (a nightly artifact, like the IVF index);
    today's docs that MISS the filter are definitely-new — no join needed,
    and on a mostly-novel feed that is most of the batch; only bloom HITS
    (true dups + ~fp%) join the history hash set for exact confirmation.
    The join's left side shrinks from |batch| to |dups|+fp, which is what
    makes per-batch dedup against a 100 TB history affordable; the md5
    hash set itself is the compact join side (32-byte keys, not documents).

    Tier-A: no false negatives + exact confirmation join ⇒ identical to
    the plain semi-join split the oracle computes. History/today are
    deterministic halves of the fixture (doc_id parity)."""
    from pyetl_spark.operators.bloom import bloom_build, bloom_might_contain

    d = load_tables(spark, sf_dir).documents
    hist = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    words = bloom_build(hist, "h")
    today = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "source", F.md5("text").alias("h")
    )
    candidates = today.filter(bloom_might_contain(F.col("h"), words))
    confirmed = candidates.join(hist, "h", "left_semi").select(
        "doc_id", F.lit(True).alias("is_dup")
    )
    tagged = today.join(confirmed, "doc_id", "left").select(
        "source", F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup")
    )
    return tagged.groupBy("source").agg(
        F.count("*").alias("n_today"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_dup_vs_history"),
        F.count(F.when(~F.col("is_dup"), 1)).alias("n_new"),
    )


@query(
    "multimodal_ahash_dedup",
    oracle="""
    WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 2000),
    re AS (SELECT doc_id + 1000000 AS doc_id, text
           FROM documents WHERE doc_id < 200),
    aug AS (SELECT * FROM base UNION ALL SELECT * FROM re),
    grp AS (
      SELECT doc_id AS media_id,
             min(doc_id) OVER (PARTITION BY text) AS keeper
      FROM aug
    )
    SELECT media_id, keeper,
           count(*) OVER (PARTITION BY keeper) AS cluster_size
    FROM grp ORDER BY media_id
    """,
)
def multimodal_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup dedup for media payloads: average-hash
    fingerprints (operators/multimodal.media_ahash) → banded hamming
    pair join (operators/simhash.hamming_band_pairs, complete for
    hamming ≤ 3 by pigeonhole) → connected components → per-cluster
    keeper assignment, mirroring the text-side MinHash dedup contract
    (cluster assignment, never the pair list). With a real decoder this
    collapses re-encoded/resized variants of the same image; with this
    environment's stub decode (sha256-seeded → avalanche) only
    byte-identical payloads cluster, which the fixture's exact text
    dups plus the planted re-ingests provide. Output: one row per media
    id with its cluster keeper and cluster size.

    Tier A (r8 conversion): the oracle needs NO ahash values — identical
    payloads get identical fingerprints under any deterministic decode,
    and the stub's avalanche guarantees non-identical payloads never
    land within hamming ≤ 3 (pinned per-SF in
    tests/test_multimodal.py::test_ahash_pairs_only_between_identical_texts),
    so the exact expected clusters are the identical-TEXT groups of the
    augmented corpus: keeper = min media_id, size = group count — which
    the oracle states directly. A banding bug, components mislabel, or
    an avalanche break each produce a hash mismatch."""
    from pyetl_spark.operators.components import connected_components
    from pyetl_spark.operators.multimodal import attach_fake_media, media_ahash
    from pyetl_spark.operators.simhash import hamming_band_pairs

    d = load_tables(spark, sf_dir).documents
    base = d.filter(F.col("doc_id") < 2000)
    # the fixture has no byte-identical docs — plant the classic asset
    # duplication (the SAME bytes re-ingested under a new id) for a
    # deterministic slice, the way re-uploads look in a real media lake
    reingested = d.filter(F.col("doc_id") < 200).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1_000_000)
    )
    media = attach_fake_media(base.unionByName(reingested))
    # pin: the Python decode pass feeds the pair join AND the cluster
    # join AND the size aggregate — unpinned it would re-decode 3×
    hashes = media_ahash(media).persist()
    pairs = hamming_band_pairs(hashes, "media_id", "ahash", max_hamming=3)
    comp = connected_components(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
    )
    clustered = hashes.join(
        comp.select(
            F.col("node").alias("media_id"), F.col("component").alias("keeper")
        ),
        "media_id",
        "left",
    ).select(
        "media_id",
        F.coalesce("keeper", "media_id").alias("keeper"),
    ).persist()
    sizes = clustered.groupBy("keeper").agg(
        F.count("*").alias("cluster_size")
    )
    # materialize once (both caches hot), then release them — the eager
    # localCheckpoint severs lineage so the returned frame doesn't
    # recompute the Python decode pass after the unpersists
    out = (
        clustered.join(sizes, "keeper")
        .select("media_id", "keeper", "cluster_size")
        .localCheckpoint(eager=True)
    )
    clustered.unpersist()
    hashes.unpersist()
    return out


@query(
    "dedup_minhash_recall_eval",
    oracle=f"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                   for i in range(1, len(w) - 1)])) AS s
      FROM d WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT cm.da, cm.db
      FROM common cm
      JOIN sizes x ON cm.da = x.doc_id
      JOIN sizes y ON cm.db = y.doc_id
      WHERE CAST(cm.c AS DOUBLE)
            / CAST(x.sz + y.sz - cm.c AS DOUBLE) >= 0.5
    ),
    mh AS (
      SELECT doc_id, sd.seed,
             min({PHASH60_SEEDED("sd.seed", "s")}) AS mv
      FROM sh, (SELECT unnest(range(8)) AS seed) sd
      GROUP BY 1, 2
    ),
    bands AS (
      SELECT doc_id, seed // 2 AS band,
             max(CASE WHEN seed % 2 = 0 THEN mv END) AS m0,
             max(CASE WHEN seed % 2 = 1 THEN mv END) AS m1
      FROM mh GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.m0 = b.m0 AND a.m1 = b.m1
           AND a.doc_id < b.doc_id
    ),
    hits AS (
      SELECT count(*) AS n_hits
      FROM cand c JOIN truth t ON c.da = t.da AND c.db = t.db
    ),
    nt AS (SELECT count(*) AS n_truth FROM truth),
    nc AS (SELECT count(*) AS n_cand FROM cand)
    SELECT CAST(nt.n_truth AS BIGINT) AS n_truth,
           CAST(nc.n_cand AS BIGINT) AS n_candidates,
           CAST(h.n_hits AS BIGINT) AS n_hits,
           {R("CAST(h.n_hits AS DOUBLE) / CAST(nc.n_cand AS DOUBLE)", 4)}
             AS precision,
           {R("CAST(h.n_hits AS DOUBLE) / CAST(nt.n_truth AS DOUBLE)", 4)}
             AS recall
    FROM nt, nc, hits h
    """,
)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END quality eval of the MinHash-LSH dedup pipeline, with
    the resampling itself driver-hash-checked: build 8 minhash
    signatures over word-3-gram shingles via the portable seeded hash,
    band them 4x2, propose candidate pairs, and score the proposal
    against EXACT shingle-Jaccard>=0.5 truth — one row of corpus-level
    precision / recall (the banding-theory numbers: P[candidate] =
    1-(1-j^2)^4, so j=0.99 dups recall ~1.0 while j~0.01 noise almost
    never collides). The Tier-B production twin (dedup_minhash_lsh /
    operators/minhash.py, xxhash64, salted windows) has pytest recall
    gates; THIS key makes the same pipeline shape reproducible on the
    DuckDB oracle, so the driver verifies which candidates the index
    recalls, not just that it runs.

    Truth is computed by the inverted-index exact algorithm, NOT an
    all-pairs scan: only pairs sharing >=1 shingle are scored (a
    jaccard>=0.5 pair trivially shares one), so the truth join costs
    Sum(df^2) over shingles — sparse for natural shingles. At 100 TB
    the standard df-cap/prefix-filter bounds hub shingles and the
    LSH side is exactly the production plan; the eval's posture matches
    er_blocking_quality: measure the scheme's quality on the corpus
    BEFORE trusting it wholesale.

    Determinism: shingle sets are exact string ops; minhashes are mins
    of identical 60-bit integers; band keys are integer equality;
    truth thresholds compare exact integer set sizes; the three counts
    are integers and precision/recall one double divide each."""
    d = load_tables(spark, sf_dir).documents.select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 3)
    shingle = F.expr(
        "transform(sequence(0, size(w) - 3),"
        " i -> concat(w[i], ' ', w[i+1], ' ', w[i+2]))"
    )
    # four consumers shuffle sh on different keys (doc_id, both sides
    # of the shingle join, (doc_id, seed)), so ReuseExchange can't help
    # — pin the explode once (eager localCheckpoint, the repo's lineage-
    # pinning idiom) instead of re-scanning the corpus 4x
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(shingle)).alias("s"),
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc_id").alias("da"), "s")
    b = sh.select(F.col("doc_id").alias("db"), F.col("s").alias("s2"))
    common = (
        a.join(b, (F.col("s") == F.col("s2")) & (F.col("da") < F.col("db")))
        .groupBy("da", "db")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    truth = (
        common.join(
            sizes.select(F.col("doc_id").alias("da"), F.col("sz").alias("sa")),
            "da",
        )
        .join(
            sizes.select(F.col("doc_id").alias("db"), F.col("sz").alias("sb")),
            "db",
        )
        .filter(
            F.col("c").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("c")).cast("double")
            >= 0.5
        )
        .select("da", "db")
    )
    from pyetl_spark.parity import phash60_seeded

    mh = (
        sh.select(
            "doc_id",
            "s",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("seed"),
        )
        .groupBy("doc_id", "seed")
        .agg(F.min(phash60_seeded(F.col("seed"), F.col("s"))).alias("mv"))
    )
    bands = mh.groupBy(
        "doc_id", F.floor(F.col("seed") / 2).alias("band")
    ).agg(
        F.max(F.when(F.col("seed") % 2 == 0, F.col("mv"))).alias("m0"),
        F.max(F.when(F.col("seed") % 2 == 1, F.col("mv"))).alias("m1"),
    )
    ba = bands.select(
        F.col("doc_id").alias("da"), "band", "m0", "m1"
    )
    bb = bands.select(
        F.col("doc_id").alias("db"),
        F.col("band").alias("band2"),
        F.col("m0").alias("n0"),
        F.col("m1").alias("n1"),
    )
    cand = (
        ba.join(
            bb,
            (F.col("band") == F.col("band2"))
            & (F.col("m0") == F.col("n0"))
            & (F.col("m1") == F.col("n1"))
            & (F.col("da") < F.col("db")),
        )
        .select("da", "db")
        .distinct()
    )
    hits = cand.join(truth, ["da", "db"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    nc = cand.agg(F.count(F.lit(1)).cast("long").alias("n_cand"))
    return (
        nt.crossJoin(nc)
        .crossJoin(hits)
        .select(
            F.col("n_truth"),
            F.col("n_cand").alias("n_candidates"),
            F.col("n_hits"),
            rnd(
                F.col("n_hits").cast("double") / F.col("n_cand").cast("double"),
                4,
            ).alias("precision"),
            rnd(
                F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double"),
                4,
            ).alias("recall"),
        )
    )


@query(
    "multimodal_manifest_stats",
    oracle=f"""
    WITH m AS (
      SELECT source,
             CASE doc_id % 3 WHEN 0 THEN 'image'
                             WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
             CAST(octet_length(encode(text)) AS BIGINT) AS nbytes,
             md5(text) AS payload_hash
      FROM documents
    )
    SELECT source, kind,
           CAST(count(*) AS BIGINT) AS n_assets,
           CAST(sum(nbytes) AS BIGINT) AS total_bytes,
           {R("CAST(sum(nbytes) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 2)}
             AS avg_bytes,
           CAST(max(nbytes) AS BIGINT) AS max_bytes,
           CAST(count(DISTINCT payload_hash) AS BIGINT) AS n_distinct_payloads
    FROM m GROUP BY 1, 2
    """,
)
def multimodal_manifest_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-lake manifest audit — the first query any multimodal corpus
    owner runs: per (source, kind) asset counts, byte totals/averages/
    maxima, and distinct-payload counts (the exact-dedup headroom
    estimate) over genuinely-BinaryType payloads. The first TIER-A
    member of the multimodal family: everything here is relational
    metadata over the blob column (byte lengths, content hashes), so it
    oracle-checks even though decode itself stays behind the stub —
    exactly how a production manifest audit avoids touching pixels.

    Payloads are the fixture adapter's UTF-8 blobs (same construction
    as operators/multimodal.attach_fake_media); kind is a deterministic
    doc_id%3 tag standing in for the fixture's missing media-type
    column. At 100 TB: ONE map-side-combined aggregate whose per-row
    work is octet_length + md5 — no decode, no shuffle beyond the
    (source, kind) rollup; the distinct-payload count shuffles hashes,
    not blobs (and downgrades to HLL when exactness isn't required —
    agg_approx_distinct is the declared sketch twin)."""
    d = load_tables(spark, sf_dir).documents
    payload = F.encode("text", "UTF-8")
    m = d.select(
        "source",
        F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit("image"))
        .when(F.pmod("doc_id", F.lit(3)) == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("kind"),
        F.length(payload).cast("long").alias("nbytes"),
        F.md5("text").alias("payload_hash"),
    )
    return m.groupBy("source", "kind").agg(
        F.count(F.lit(1)).cast("long").alias("n_assets"),
        F.sum("nbytes").cast("long").alias("total_bytes"),
        rnd(
            F.sum("nbytes").cast("double") / F.count(F.lit(1)).cast("double"),
            2,
        ).alias("avg_bytes"),
        F.max("nbytes").cast("long").alias("max_bytes"),
        F.countDistinct("payload_hash").cast("long").alias(
            "n_distinct_payloads"
        ),
    )
