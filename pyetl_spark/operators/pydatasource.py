"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource` API).

The reference's extensibility story is "plug a new feed into the engine";
Spark 4's Python DataSource API is the idiomatic port of that surface: a
pure-Python reader class is registered once per session and then consumed
through the ordinary `spark.read.format(...)` path — schema, options,
partition planning, and per-partition iteration all declared, with Spark
distributing one `read(partition)` call per task.

Scale contract: `partitions()` returns the parallelism plan — each
InputPartition is an independent task, so a 1000-executor cluster fans the
read out with zero coordination beyond the plan itself (the same contract
parquet splits satisfy). The generator below is deterministic per (row id),
so the output is engine-checkable: the DuckDB oracle reproduces it from
`range()` exactly. No randomness, no wall clock.

Both halves of the API live here: `SyntheticEventsSource` (batch,
oracle-checkable → Tier A key `source_python_datasource`) and
`CounterStreamSource` (streaming — offset bookkeeping replaces the static
partition plan; exactly-once resume is pinned by the Tier C test in
tests/test_streaming.py).

The readers' ``read`` methods are ``pyworker.worker_entry`` functions,
so importing this module registers it for by-value pickling: the
DataSource classes deserialize on workers without the repo on their
``PYTHONPATH``.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from pyetl_spark.operators.pyworker import worker_entry

#: Knuth's multiplicative-hash constant — a cheap deterministic scrambler
#: both engines can evaluate exactly in 64-bit integer arithmetic.
_MIX = 2654435761


class SyntheticEventsReader(DataSourceReader):
    """Deterministic generator: ids [0, rows) split evenly over `parts`."""

    def __init__(self, rows: int, parts: int) -> None:
        self._rows = rows
        self._parts = parts

    def partitions(self) -> Sequence[InputPartition]:
        # one InputPartition per planned task; value = partition ordinal
        return [InputPartition(i) for i in range(self._parts)]

    @worker_entry
    def read(self, partition: InputPartition) -> Iterator[tuple]:
        # contiguous id slab per partition → no overlap, full coverage
        p = partition.value
        lo = (self._rows * p) // self._parts
        hi = (self._rows * (p + 1)) // self._parts
        for i in range(lo, hi):
            yield (i, i % 13, (i * _MIX) % 1000)


class SyntheticEventsSource(DataSource):
    """`spark.read.format("pyetl_synth_events").option("rows", n)...`"""

    @classmethod
    def name(cls) -> str:
        return "pyetl_synth_events"

    def schema(self) -> str:
        return "id BIGINT, bucket BIGINT, val BIGINT"

    def reader(self, schema) -> SyntheticEventsReader:  # noqa: ANN001
        return SyntheticEventsReader(
            rows=int(self.options.get("rows", 10000)),
            parts=int(self.options.get("parts", 8)),
        )


class CounterStreamReader(SimpleDataSourceStreamReader):
    """Deterministic micro-batch generator: each batch is the next `step`
    ids. Offsets are plain dicts persisted in the checkpoint's offset log,
    so a restarted query resumes exactly where it stopped, and
    `readBetweenOffsets` replays any committed range bit-identically —
    the two halves of the exactly-once contract a custom streaming source
    must honor (Kafka's offset semantics, minus the broker)."""

    def __init__(self, step: int) -> None:
        self._step = step

    def initialOffset(self) -> dict:
        return {"n": 0}

    @worker_entry
    def read(self, start: dict):  # noqa: ANN201 — (iterator, next_offset)
        lo = int(start["n"])
        hi = lo + self._step
        return (self._rows(lo, hi), {"n": hi})

    @worker_entry
    def readBetweenOffsets(self, start: dict, end: dict):  # noqa: ANN201
        return self._rows(int(start["n"]), int(end["n"]))

    @staticmethod
    def _rows(lo: int, hi: int):  # noqa: ANN205
        return iter([(i, i % 13, (i * _MIX) % 1000) for i in range(lo, hi)])


class CounterStreamSource(DataSource):
    """`spark.readStream.format("pyetl_counter_stream").option("step", n)`
    — the streaming twin of SyntheticEventsSource (same row formula, so
    batch and stream outputs are directly comparable)."""

    @classmethod
    def name(cls) -> str:
        return "pyetl_counter_stream"

    def schema(self) -> str:
        return "id BIGINT, bucket BIGINT, val BIGINT"

    def simpleStreamReader(self, schema) -> CounterStreamReader:  # noqa: ANN001
        return CounterStreamReader(step=int(self.options.get("step", 100)))
