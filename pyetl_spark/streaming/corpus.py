"""Streaming training-corpus ingest — the streaming twin of the batch
flagship ``pipeline_training_corpus`` (north star: a 100 TB training-data
pipeline ingests documents CONTINUOUSLY, it doesn't re-scan the corpus).

Stages, all incremental and state-bounded:

1. file/Kafka source of JSON document records (same swap contract as
   events: ``parse_kafka_values`` composes upstream unchanged);
2. quality scoring with the SAME JVM expression as the batch path
   (operators/text.py) — one code path, two execution modes;
3. exact near-time dedup on the content hash via
   ``dropDuplicatesWithinWatermark`` — state holds one hash per doc seen
   inside the watermark horizon, not the corpus (at 100 TB/day the
   watermark bounds state; historical dedup is the batch MinHash job's
   responsibility);
4. ``foreachBatch`` multi-sink: accepted docs → corpus parquet, rejects →
   quarantine parquet with the reject reason (the audit trail every
   corpus pipeline needs). Each batch lands in its own ``batch_id=<id>``
   partition via dynamic partition overwrite, so a batch replayed after a
   crash overwrites its own output instead of appending duplicates
   (exactly-once across restarts, not just at-least-once).

Scale: per-microbatch cost is O(new docs); the only stateful operator is
keyed on the content hash (uniform — md5), so no skew; sinks write
partitioned parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from pyetl_spark.app import Sink, land
from pyetl_spark.operators import text as TX

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ingest_ts", TimestampType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
    ]
)


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """JSON-lines document stream (file source ≙ Kafka topic of docs)."""
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def score_and_gate(
    docs: DataFrame, min_quality: float = 0.5, langs: tuple = ("en", "de", "fr")
) -> DataFrame:
    """Adds quality + accept/reject verdict; pure narrow JVM expressions
    (identical scorer to the batch flagship), safe on any stream. The
    verdict reads the ``quality`` column of a first projection, so the
    score is computed once per row, not once more inside the verdict."""
    toks = F.split("text", " ")
    reason = (
        F.when(~F.col("lang").isin(*langs), F.lit("lang_not_allowed"))
        .when(F.col("quality") < min_quality, F.lit("low_quality"))
        .otherwise(F.lit(None))
    )
    return docs.select(
        "doc_id",
        "ingest_ts",
        "text",
        "lang",
        "source",
        F.md5("text").alias("content_hash"),
        TX.quality_score(F.col("text"), toks).alias("quality"),
    ).withColumn("reject_reason", reason)


def dedup_stream(
    scored: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Drop repeated content within the watermark horizon (state = one
    row per distinct content_hash still inside the horizon)."""
    return scored.withWatermark("ingest_ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )


def write_corpus_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    quarantine_path: str,
) -> None:
    """IDEMPOTENT per-batch writer (module-level so tests can replay it).

    foreachBatch is only at-least-once: if the driver dies between the
    two sink writes (or after writing but before the checkpoint commit),
    the restarted query re-runs the SAME batch_id. Two blind appends
    would then duplicate accepted docs — in the exact pipeline whose job
    is dedup. ``app.land`` lands each batch in its own ``batch_id=<id>``
    partition by dynamic partition overwrite, so a replay of batch N
    replaces exactly batch N's output and nothing else; the batch is
    persisted once for both sinks. Readers see ``batch_id`` as an
    ordinary partition column.
    """
    land(
        batch_df,
        [
            Sink(
                corpus_path,
                partition_by=("lang",),
                rows=lambda d: d.filter(
                    F.col("reject_reason").isNull()
                ).drop("reject_reason"),
            ),
            Sink(
                quarantine_path,
                rows=lambda d: d.filter(F.col("reject_reason").isNotNull()),
            ),
        ],
        batch_id,
    )


def run_corpus_ingest(
    spark: SparkSession,
    src_path: str,
    corpus_path: str,
    quarantine_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
    min_quality: float = 0.5,
    max_files_per_trigger: int | None = None,
):
    """Wire the full ingest: source → gate → dedup(accepted only) →
    multi-sink. Returns the started streaming query (availableNow).
    ``max_files_per_trigger`` bounds each micro-batch — availableNow
    honors it, so a backlog drains as a SEQUENCE of batches (real state
    handoff between batches) instead of one mega-batch."""
    scored = score_and_gate(
        read_docs_stream(spark, src_path, max_files_per_trigger),
        min_quality=min_quality,
    )
    accepted = dedup_stream(
        scored.filter(F.col("reject_reason").isNull()), watermark
    )
    rejected = scored.filter(F.col("reject_reason").isNotNull())
    # the dedup state stays on the accepted branch; union back so one
    # query (one checkpoint) feeds both sinks of the shared writer
    merged = accepted.unionByName(rejected)

    def write_both(batch_df: DataFrame, batch_id: int) -> None:
        write_corpus_batch(batch_df, batch_id, corpus_path, quarantine_path)

    return (
        merged.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def assign_neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    index: DataFrame,
    corpus_tokens: DataFrame,
    out_path: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> None:
    """IDEMPOTENT per-batch near-dup assigner (module-level so tests can
    crash-replay it, same pattern as ``write_corpus_batch``): tokenizes
    the batch, assigns keepers against the static index via
    ``minhash_assign_incremental``, and lands the result under its own
    ``batch_id=<id>`` partition with dynamic partition overwrite — a
    replay of batch N after a failure between the sink write and the
    checkpoint commit rewrites exactly batch N's assignments instead of
    appending duplicates."""
    from pyetl_spark.operators.minhash import minhash_assign_incremental

    batch = batch_df.select(
        "doc_id",
        F.array_distinct(F.split("text", " ")).alias("tokens"),
    )
    out = minhash_assign_incremental(
        batch,
        index,
        corpus_tokens,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        seed=seed,
    )
    land(out, [Sink(out_path)], batch_id)


def run_neardup_ingest(
    docs_stream: DataFrame,
    index: DataFrame,
    corpus_tokens: DataFrame,
    out_path: str,
    checkpoint: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
):
    """Streaming NEAR-dup ingest — the streaming twin of
    `minhash_assign_incremental` (north star: the daily-ingest contract
    becomes CONTINUOUS: documents arrive as file/topic batches and each
    gets a keeper against the existing deduplicated corpus without ever
    re-banding it). Complements this module's exact path: `dedup_stream`
    drops WITHIN-STREAM repeats by content hash; this step assigns each
    survivor a keeper among the EXISTING corpus' near-duplicates.

    Per micro-batch, via foreachBatch: the batch is a bounded DataFrame,
    so it rides the BATCH operator unchanged — O(|batch|·bands)
    signature work + bucket joins against the prebuilt static
    `minhash_index`, never a corpus re-scan. A pure streaming-native
    formulation would force an update-mode stateful aggregation (min
    keeper per doc) for zero benefit: the per-doc answer is complete
    within its own batch, exactly the case foreachBatch exists for.
    Idempotency: each batch lands under ``batch_id=N`` with dynamic
    partition overwrite, so post-failure replays rewrite instead of
    duplicating (same contract as `write_corpus_batch`).

    Intra-batch duplicates are NOT merged against each other (each doc
    is matched against the corpus only) — the documented
    `minhash_assign_incremental` semantics; run `dedup_stream` upstream
    when the stream itself carries repeats.

    (num_hashes, bands, seed) MUST equal the values `index` was built
    with (`minhash_index`'s caller contract): band hashes from different
    parameters never collide, so a mismatch would yield empty buckets
    and every doc would silently self-keep. `minhash_index` stamps its
    build params into the index schema metadata and
    `minhash_assign_incremental` verifies them on every batch, so a
    mismatched ingest fails fast instead of writing wrong keepers.

    Index maintenance happens BETWEEN runs, not per-batch: after a run
    drains, feed its assignment output through `minhash_index_delta`
    and append the new keepers' band rows to the index parquet — the
    next `run_neardup_ingest` (or restart) then catches dups of this
    run's novel docs (tests/test_approx_operators.py pins the
    three-day lifecycle). A per-batch append inside foreachBatch would
    break replay idempotency (the delta append is not keyed by
    batch_id), which is why the index stays static within a run.
    """
    def assign_batch(batch_df: DataFrame, batch_id: int) -> None:
        assign_neardup_batch(
            batch_df,
            batch_id,
            index,
            corpus_tokens,
            out_path,
            threshold=threshold,
            num_hashes=num_hashes,
            bands=bands,
            seed=seed,
        )

    return (
        docs_stream.writeStream.foreachBatch(assign_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def strip_boilerplate_batch(
    batch_df: DataFrame,
    batch_id: int,
    boiler: DataFrame,
    out_path: str,
    width: int = 10,
) -> None:
    """IDEMPOTENT per-batch boilerplate strip (module-level so tests can
    crash-replay it, same pattern as ``write_corpus_batch`` /
    ``assign_neardup_batch``): runs the batch-identical
    ``operators/text.strip_boilerplate`` against the STATIC boilerplate
    table and lands the cleaned docs under their own ``batch_id=<id>``
    partition with dynamic partition overwrite — a replayed batch
    rewrites its own partition instead of appending duplicates."""
    from pyetl_spark.operators.text import strip_boilerplate

    land(
        strip_boilerplate(batch_df, boiler, width=width),
        [Sink(out_path)],
        batch_id,
    )


def run_boilerplate_strip(
    docs_stream: DataFrame,
    boiler: DataFrame,
    out_path: str,
    checkpoint: str,
    width: int = 10,
):
    """Streaming cross-doc boilerplate removal — the streaming twin of
    ``dedup_paragraph_global`` (north star: a crawl ingest strips known
    boilerplate BEFORE near-dup assignment, because repeated headers /
    navigation / license blurbs inflate Jaccard between unrelated
    pages and waste index space downstream).

    Per micro-batch via foreachBatch: the batch is bounded, so it rides
    the batch kernel (``operators/text.strip_boilerplate``) unchanged —
    one (chunk)-keyed join against the static ``boiler`` table per
    batch, per-doc bounded reassembly. A streaming-native formulation
    would need an update-mode aggregation per doc for zero benefit: the
    per-doc answer is complete within its own batch.

    ``boiler`` is the persisted ``paragraph_boilerplate`` table and is
    STATIC within a run — maintenance happens BETWEEN runs by
    re-running ``paragraph_boilerplate`` over the grown corpus and
    overwriting the table (the ``minhash_index`` between-runs contract,
    for the same reason: an in-run refresh would make replayed batches
    produce different cleaned text than the original attempt, breaking
    the idempotent-overwrite guarantee). New boilerplate that EMERGES
    within a run (a chunk crossing min_docs today) is therefore caught
    at the next run boundary, exactly like a today-novel near-dup.
    ``width`` MUST equal the value the boiler table was built with —
    chunks of different widths never string-match, so a mismatch
    silently strips nothing.
    """
    def strip_batch(batch_df: DataFrame, batch_id: int) -> None:
        strip_boilerplate_batch(
            batch_df, batch_id, boiler, out_path, width=width
        )

    return (
        docs_stream.writeStream.foreachBatch(strip_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


VECS_STREAM_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("ingest_ts", TimestampType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def read_vecs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """JSON-lines embedding stream (file source ≙ Kafka topic of
    vectors — same swap contract as ``read_docs_stream``)."""
    reader = spark.readStream.schema(VECS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def encode_vectors_batch(
    batch_df: DataFrame,
    batch_id: int,
    coarse_centroids: DataFrame,
    codebook: DataFrame,
    out_path: str,
    m: int = 8,
    dim: int = 64,
    k: int = 16,
    codes: DataFrame | None = None,
    mse_log_path: str | None = None,
) -> None:
    """IDEMPOTENT per-batch IVF-PQ encoder (module-level so tests can
    crash-replay it, same pattern as ``assign_neardup_batch``): encodes
    the batch against the STATIC index artifacts via
    ``ivfpq_index_delta`` (assign-to-existing-centroids +
    encode-with-existing-codebook — no refit inside the hot path) and
    lands the code rows under their own ``batch_id=<id>`` partition
    with dynamic partition overwrite, so a replay of batch N after a
    failure between the sink write and the checkpoint commit REWRITES
    batch N's codes instead of appending duplicates.

    Unlike the MinHash path — whose ``minhash_index_delta`` append is
    deliberately between-runs-only because its output is not
    batch-keyed — the ANN delta is safe to land per batch: every code
    row derives from the batch's own vectors alone (no dependence on
    which earlier batch arrived first), so batch_id partitioning makes
    the continuous append replay-idempotent. Searches run over
    base_codes UNION the ingested partitions (drop the batch_id
    column); compaction of old partitions into the base table is a
    between-runs maintenance job, same cadence as a retrain.

    PRECONDITION — vec_id unique across the ingest's lifetime: code
    rows are keyed by batch_id, so a vector RE-EMITTED in a later
    batch (a re-curated doc's updated embedding) leaves the stale
    rows in the earlier partition too, and a naive union holds 2·m
    rows for that id — ivfpq_topk's per-(probe, id) fold would then
    sum both generations' table entries and silently mis-rank exactly
    the updated vectors. Either guarantee unique ids upstream (the
    usual contract — vector stores treat re-add as delete-then-add)
    or read the ingested table through ``latest_codes`` below, which
    keeps only each id's newest batch.

    ``mse_log_path``: when set, a 1-row drift record (batch_id, n,
    batch residual-space MSE) lands next to the codes under the same
    batch_id-overwrite contract — the retrain trigger (build-vs-batch
    MSE ratio) becomes an append-only log the monitoring job tails,
    instead of a number someone has to remember to compute. The MSE
    derives from the SAME residual frame the codes do (one centroid
    assignment, one residual pass, pinned — not a recompute)."""
    from pyetl_spark.operators.ivf import ivf_assign
    from pyetl_spark.operators.ivfpq import (
        _check_codes_stamp,
        ivfpq_encode,
        ivfpq_residuals,
    )
    from pyetl_spark.operators.pq import reconstruction_mse

    if codes is not None:
        _check_codes_stamp(codes, (m, dim, k), "encode_vectors_batch")
    batch = batch_df.select("vec_id", F.col("embedding").alias("e"))
    res = ivfpq_residuals(
        ivf_assign(batch, coarse_centroids), coarse_centroids
    )
    if mse_log_path is not None:
        # two consumers (codes + drift MSE) and an n-count — pin the
        # residual frame so the nearest-centroid pass runs once
        res = res.localCheckpoint(eager=True)
    land(
        ivfpq_encode(res, codebook, m=m, dim=dim, k=k),
        [Sink(out_path)],
        batch_id,
    )
    if mse_log_path is not None:
        n = res.count()
        mse = (
            reconstruction_mse(
                res, codebook, id_col="vec_id", vec_col="r", m=m, dim=dim
            )
            if n
            else None
        )
        rec = batch_df.sparkSession.createDataFrame(
            [(n, mse)], "n_vectors long, batch_mse double"
        )
        land(rec, [Sink(mse_log_path)], batch_id)


def latest_codes(
    ingested: DataFrame, id_col: str = "id", batch_col: str = "batch_id"
) -> DataFrame:
    """Newest-generation view of the ingested code table: for ids that
    were re-emitted in a later batch (see the precondition on
    ``encode_vectors_batch``), keep ONLY the highest-batch_col rows, so
    the merged search index holds exactly m code rows per vector. One
    aggregate + one equi-join on id — both on the ingested table only
    (never the base corpus); readers that guarantee unique ids upstream
    can skip this and ``drop(batch_col)`` directly.

    ``id_col``/``batch_col`` default to the names
    ``encode_vectors_batch`` writes (ivfpq_encode's ``id`` plus the
    ``batch_id`` partition column) but are parameters for projected /
    renamed frames — the same tolerance the stamp contract extends
    (r13 ADVICE: these were hardcoded while the rest of the operator
    library parameterizes id_col)."""
    newest = ingested.groupBy(id_col).agg(
        F.max(batch_col).alias(batch_col)
    )
    return ingested.join(newest, [id_col, batch_col]).drop(batch_col)


def run_vector_ingest(
    vec_stream: DataFrame,
    coarse_centroids: DataFrame,
    codebook: DataFrame,
    out_path: str,
    checkpoint: str,
    m: int = 8,
    dim: int = 64,
    k: int = 16,
    codes: DataFrame | None = None,
    mse_log_path: str | None = None,
):
    """Streaming ANN-index ingest — the streaming twin of
    ``ivfpq_index_delta`` (north star: embeddings of freshly-curated
    documents arrive continuously; each batch must become searchable
    without retraining or corpus re-encoding). Per micro-batch via
    foreachBatch: O(|batch| · coarse_k + |batch| · m · k) distance
    evaluations, the static centroid/codebook artifacts broadcast —
    never a corpus scan. A streaming-native formulation would buy
    nothing: the per-vector code is complete within its own batch,
    exactly the foreachBatch case.

    Pass ``codes`` (the base code table, or any frame carrying its
    stamped metadata) to fail fast when this ingest's (m, dim, k)
    disagree with the index it feeds — a mismatched ingest would
    otherwise write garbage codes that silently corrupt every search
    over the mixed table (the stamp contract of ``ivfpq_encode``).

    Drift: append-only maintenance degrades recall silently under
    distribution shift; set ``mse_log_path`` to land a per-batch MSE
    record and alert on the ratio vs the build-time value — when it
    drifts past ~2x, retrain (rebuild centroids + codebook, re-encode,
    compact) instead of appending further."""
    def encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        encode_vectors_batch(
            batch_df,
            batch_id,
            coarse_centroids,
            codebook,
            out_path,
            m=m,
            dim=dim,
            k=k,
            codes=codes,
            mse_log_path=mse_log_path,
        )

    return (
        vec_stream.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def compact_ingested_codes(
    spark: SparkSession,
    base_codes_path: str,
    ingested_path: str,
    out_path: str,
) -> None:
    """Between-runs compaction of the streamed ANN ingest — the
    maintenance job the ingest docstrings defer to: fold the
    batch_id-partitioned ingested code rows into a fresh
    cell-partitioned codes table at ``out_path`` (MUST be a new
    directory, not either input — the inputs are read lazily while the
    output writes, and a reader holding the old pointer must stay
    consistent; publish the new path with a manifest/pointer swap, the
    sink_manifest_atomic_publish pattern, then clear the ingested dir
    and the stream checkpoint TOGETHER so the next run starts empty).

    Semantics: newest generation wins everywhere — re-emitted ids keep
    only their highest-batch_id rows (``latest_codes``), and an
    ingested id that also exists in the BASE table replaces the base
    rows (anti-join), so an updated embedding fully supersedes the one
    the nightly build encoded. Cost: one aggregate + two joins keyed on
    id over the two code tables — corpus-linear, no distance work, no
    refit; cell partitioning is restored on write so nprobe directory
    pruning keeps working. The (m, dim, k) stamp rides the base
    table's schema (union takes the first child's metadata; the
    ingested side carries the same stamp, enforced at encode time)."""
    fresh = latest_codes(spark.read.parquet(ingested_path))
    base = spark.read.parquet(base_codes_path)
    merged = base.join(
        fresh.select("id").distinct(), "id", "left_anti"
    ).unionByName(fresh)
    merged.write.partitionBy("cell").mode("errorifexists").parquet(out_path)
