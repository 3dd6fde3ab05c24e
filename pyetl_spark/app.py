"""Declarative pipeline runner — the reference's configured main loop,
Spark edition (SURVEY.md §3.1: poll → parse → enrich → multi-sink land).

The reference wires one ETL flow from env-var config; here the same flow is
a `PipelineSpec` (plain dataclasses, JSON-friendly) executed batch or
streaming with identical transform code:

    spec = PipelineSpec(
        source=JsonSource(path=..., schema=EVENTS_STREAM_SCHEMA),
        transforms=[
            parse_props_transform(),
            enrich_time_transform(),
            quality_filter_transform(min_value=0.0),
        ],
        sinks=[
            Sink(path=..., partition_by=("dt",)),
            Sink(path=..., fmt="json"),
        ],
    )
    run_batch(spark, spec)          # one-shot backfill
    run_streaming(spark, spec, ck)  # incremental, exactly-once

Transforms are named DataFrame→DataFrame callables, so the SAME list runs
in both modes — the property the reference lacked (its loop code was the
only spec). Every multi-sink and per-batch write in the engine goes
through one lander, ``land``.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyetl_spark.etl_metrics import observe_quality

Transform = Callable[[DataFrame], DataFrame]


@dataclass
class JsonSource:
    path: str
    schema: T.StructType
    max_files_per_trigger: int | None = None


@dataclass
class Sink:
    """One destination: a path, a file format, Hive partition columns,
    and an optional row transform that selects or shapes the rows this
    sink receives (the corpus and quarantine sinks of one batch)."""

    path: str
    fmt: str = "parquet"
    partition_by: tuple[str, ...] = ()
    rows: Transform | None = None


@dataclass
class PipelineSpec:
    source: JsonSource
    transforms: list[Transform] = field(default_factory=list)
    sinks: list[Sink] = field(default_factory=list)


# ---------------------------------------------------------------- transforms


def parse_props_transform(key: str = "k") -> Transform:
    """Type the JSON props payload (the reference's json.loads step)."""

    def t(df: DataFrame) -> DataFrame:
        return df.withColumn(
            key, F.get_json_object("props", f"$.{key}").cast("int")
        )

    t.__name__ = "parse_props"
    return t


def enrich_time_transform() -> Transform:
    """Derive partition keys from event time (the reference's enrichment)."""

    def t(df: DataFrame) -> DataFrame:
        return df.withColumn("dt", F.to_date("ts")).withColumn(
            "event_hour", F.hour("ts")
        )

    t.__name__ = "enrich_time"
    return t


def quality_filter_transform(min_value: float = 0.0) -> Transform:
    """Drop records failing basic validity (reference: skip bad records)."""

    def t(df: DataFrame) -> DataFrame:
        return df.filter(
            F.col("event_id").isNotNull() & (F.col("value") >= min_value)
        )

    t.__name__ = "quality_filter"
    return t


# ---------------------------------------------------------------- execution


def _apply(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    for t in spec.transforms:
        df = t(df)
    return df


def land(
    df: DataFrame, sinks: list[Sink], batch_id: int | None = None
) -> int:
    """Write ``df`` to every sink and return its row count.

    - ``df`` is persisted when two or more sinks read it, so the source
      is read and transformed once, and unpersisted afterwards.
    - With ``batch_id``, each sink's rows are stamped with it as a
      ``long`` column and land under ``batch_id=<id>`` (then the sink's
      own partition columns) by dynamic partition overwrite: a batch
      replayed after a crash replaces exactly its own output. foreachBatch
      is at-least-once, so this is what makes every streaming sink
      exactly-once across restarts. Without ``batch_id``, each sink is a
      plain overwrite.
    - The count comes from an ``observe`` on the first write, before any
      row transform: no extra pass over the data. With no sinks nothing
      is written, so nothing could be observed: 0.
    """
    if not sinks:
        return 0
    pinned = len(sinks) >= 2
    if pinned:
        df = df.persist()
    try:
        observed, obs = observe_quality(df)
        for i, sink in enumerate(sinks):
            out = observed if i == 0 else df
            if sink.rows is not None:
                out = sink.rows(out)
            parts = sink.partition_by
            if batch_id is not None:
                out = out.withColumn("batch_id", F.lit(batch_id).cast("long"))
                parts = ("batch_id", *parts)
            w = out.write.mode("overwrite").format(sink.fmt)
            if batch_id is not None:
                w = w.option("partitionOverwriteMode", "dynamic")
            if parts:
                w = w.partitionBy(*parts)
            w.save(sink.path)
        return int(obs.get["n_rows"])
    finally:
        if pinned:
            df.unpersist()


def run_batch(spark: SparkSession, spec: PipelineSpec) -> int:
    """One-shot run: read → transforms → every sink. Returns rows landed,
    counted during the writes (the source is read once)."""
    df = spark.read.schema(spec.source.schema).json(spec.source.path)
    return land(_apply(df, spec), spec.sinks)


def run_streaming(
    spark: SparkSession, spec: PipelineSpec, checkpoint: str
):
    """Incremental run: same transforms per micro-batch, landed by
    ``land`` with the batch_id overwrite rule (exactly-once with the
    checkpoint WAL). Returns the started StreamingQuery."""
    reader = spark.readStream.schema(spec.source.schema)
    if spec.source.max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", spec.source.max_files_per_trigger
        )
    stream = reader.json(spec.source.path)

    def land_batch(batch_df: DataFrame, batch_id: int) -> None:
        land(_apply(batch_df, spec), spec.sinks, batch_id)

    return (
        stream.writeStream.foreachBatch(land_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------- upsert


def merge_upsert(
    spark: SparkSession,
    existing_path: str,
    updates: DataFrame,
    key: str,
) -> None:
    """Key-based upsert into a parquet table (no lakehouse format in this
    environment, so: full-outer merge + atomic directory swap — the same
    landing protocol as plans.layout.compact).

    Updates win on key collision; unmatched rows from both sides survive.
    At 100 TB this becomes a partition-scoped merge (dynamic partition
    overwrite) or a real table format's MERGE INTO — the logical plan here
    is exactly what those execute.
    """
    existing = spark.read.parquet(existing_path)
    merged = (
        existing.alias("e")
        .join(updates.alias("u"), key, "full")
        .select(
            *[
                F.coalesce(F.col(f"u.{c}"), F.col(f"e.{c}")).alias(c)
                if c != key
                else F.col(key)
                for c in existing.columns
            ]
        )
    )
    tmp = existing_path.rstrip("/") + "__merge_tmp"
    merged.write.mode("overwrite").parquet(tmp)
    import shutil

    shutil.rmtree(existing_path)
    shutil.move(tmp, existing_path)
