"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): the
reference's REST ticker (/root/reference/dataCollector.py:97-117) as a
first-class pluggable source — ``spark.read.format("sim_ticks")`` — instead
of a driver-side loop.

Two readers:

- **batch** (`DataSourceReader`): one ``InputPartition`` per symbol, so the
  fetch fans out across executors exactly like the mapInPandas path in
  rest.py, but behind the standard source API (usable from SQL, composable
  with every downstream operator, schema declared once).
- **stream** (`SimpleDataSourceStreamReader`): offset = global tick index;
  each micro-batch emits one poll cycle per symbol. The simulator is FINITE
  (``max_ticks``) so availableNow-style drains terminate — a real endpoint
  would simply never hit the cap. Offsets make restarts exactly-once: the
  checkpoint stores the tick index, not wall-clock state.

The simulated price is a closed-form expression of (symbol index, tick
index), so both readers are hash-checkable against a DuckDB oracle — the
only part of the real source that can't be CI-verified is the network call
itself (rest.py isolates it the same way).

Scale: the batch reader's partition count == symbol count (a 100k-symbol
universe becomes 100k-way parallel fetch, throttled by
``spark.sql.files.maxPartitionNum``-style coalescing if needed); the stream
reader keeps per-batch state O(1).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..registry import query

TICK_DDL = "ts timestamp_ntz, symbol string, price double"

BASE_TS = dt.datetime(2026, 1, 1)
POLL_SECONDS = 5

#: The reference's universe (dataCollector.py:16) — default, not a limit.
DEFAULT_SYMBOLS = "BTCUSDT,ETHUSDT,LTCBTC"


def _price(sym_idx: int, tick: int) -> float:
    """Deterministic simulated price — closed form so DuckDB can recompute
    it bit-for-bit: both engines evaluate the same IEEE double ops."""
    return 100.0 * (sym_idx + 1) + 0.01 * tick


class _SymbolPartition(InputPartition):
    def __init__(self, idx: int, symbol: str):
        self.idx = idx
        self.symbol = symbol


class SimTicksBatchReader(DataSourceReader):
    def __init__(self, options):
        self.symbols = options.get("symbols", DEFAULT_SYMBOLS).split(",")
        self.n_ticks = int(options.get("n_ticks", "120"))

    def partitions(self):
        return [_SymbolPartition(i, s) for i, s in enumerate(self.symbols)]

    def read(self, partition: _SymbolPartition):
        for t in range(self.n_ticks):
            yield (
                BASE_TS + dt.timedelta(seconds=POLL_SECONDS * t),
                partition.symbol,
                _price(partition.idx, t),
            )


class SimTicksStreamReader(SimpleDataSourceStreamReader):
    """Offset = next global tick index (one JSON int). Each read() emits
    one poll cycle (one row per symbol), mirroring the reference's 5 s
    loop; after ``max_ticks`` cycles the source reports no new data."""

    def __init__(self, options):
        self.symbols = options.get("symbols", DEFAULT_SYMBOLS).split(",")
        self.max_ticks = int(options.get("max_ticks", "20"))
        # Poll cycles admitted per micro-batch. A real endpoint is polled
        # once per trigger; the simulator exposes the batching knob
        # because each micro-batch costs fixed machinery (planning +
        # python-source roundtrip + sink commit, ~0.3 s) — 1 tick/batch
        # made the 20-tick drain pay that 20× for 60 rows.
        self.ticks_per_batch = int(options.get("ticks_per_batch", "5"))

    def initialOffset(self):
        return {"tick": 0}

    def read(self, start):
        tick = start["tick"]
        if tick >= self.max_ticks:
            return iter([]), {"tick": tick}
        upto = min(tick + self.ticks_per_batch, self.max_ticks)
        rows = [
            (
                BASE_TS + dt.timedelta(seconds=POLL_SECONDS * t),
                s,
                _price(i, t),
            )
            for t in range(tick, upto)
            for i, s in enumerate(self.symbols)
        ]
        return iter(rows), {"tick": upto}

    def readBetweenOffsets(self, start, end):
        return iter([
            (
                BASE_TS + dt.timedelta(seconds=POLL_SECONDS * t),
                s,
                _price(i, t),
            )
            for t in range(start["tick"], end["tick"])
            for i, s in enumerate(self.symbols)
        ])


class SimTicksDataSource(DataSource):
    @classmethod
    def name(cls):
        return "sim_ticks"

    def schema(self):
        return TICK_DDL

    def reader(self, schema):
        return SimTicksBatchReader(self.options)

    def simpleStreamReader(self, schema):
        return SimTicksStreamReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(SimTicksDataSource)


_TICKS_ORACLE = """
    SELECT TIMESTAMP '2026-01-01' + to_seconds(5 * t.i) AS ts,
           s.symbol,
           100.0 * (s.idx + 1) + 0.01 * t.i AS price
    FROM (VALUES ('BTCUSDT', 0), ('ETHUSDT', 1), ('LTCBTC', 2)) s(symbol, idx),
         range({n}) t(i)
"""


@query(
    "q_source_datasource",
    oracle=_TICKS_ORACLE.format(n=120),
    tags=("source", "datasource"),
)
def q_source_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pluggable batch source: symbol-per-partition parallel 'fetch'
    through the Spark 4 Python DataSource API, hash-checked against the
    closed-form oracle."""
    register(spark)
    return spark.read.format("sim_ticks").option("n_ticks", "120").load()


@query(
    "q_source_datasource_stream",
    oracle=_TICKS_ORACLE.format(n=20),
    tags=("source", "datasource", "streaming"),
)
def q_source_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same source as a custom STREAMING reader: 20 poll cycles
    (5 per micro-batch) drained to a memory sink, offset-tracked through
    a checkpoint — the reference's poll loop with exactly-once restart
    semantics. Output equals the batch oracle at the same tick count.
    Like run_to_memory, it removes its checkpoint and drops the sink's
    temp view once the result is bound."""
    import shutil
    import uuid

    from ..session import session_confs
    from ..streaming.jobs import LOCAL_CKPT_CONFS, stream_ckpt_dir

    register(spark)
    name = f"sim_ticks_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("sim_ticks").option("max_ticks", "20").load()
    )
    ckpt = stream_ckpt_dir("ckpt_ds_")
    try:
        # The harness checkpoint's manager, held until the query ends
        # (see streaming.jobs._run_available).
        with session_confs(spark, LOCAL_CKPT_CONFS):
            q = (
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .start()
            )
            # Python stream sources don't support availableNow (the v2
            # micro-batch wrapper falls back to one batch); drain until
            # the finite source reports no new data, then stop.
            q.processAllAvailable()
            q.stop()
            q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out
