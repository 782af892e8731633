"""Table catalog: lazy parquet loaders over a scale-factor directory.

All declared queries take ``(spark, sf_dir)``; this module turns that into
DataFrame handles. Reads are plain ``spark.read.parquet`` — column
pruning and predicate pushdown then reach the scan for free (Catalyst
``PruneFileSourcePartitions`` / parquet filters), which is the load-bearing
property at the 100 TB design point.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: Columns stored as parquet TIMESTAMP(NANOS): read as nano-longs (see
#: session.RUNTIME_CONFS) and normalized here to microsecond timestamp_ntz —
#: wall-clock semantics identical to the DuckDB oracle's ns→us truncation.
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


#: Parquet schema per session and table path. Only the schema is kept: a
#: reader built with ``.schema()`` fires no footer-inference job, yet lists
#: the table's files afresh, so a part file added to a directory-layout
#: table between two calls is read by the second. Weak keys: a stopped
#: session's schemas go with it.
_SCHEMAS: weakref.WeakKeyDictionary[SparkSession, dict[str, StructType]] = (
    weakref.WeakKeyDictionary()
)


class Catalog:
    """Lazy per-table parquet readers over one sf_dir for one query call:
    a table read twice in the call is one DataFrame, so a column taken
    from it resolves in the joins it feeds."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._tables: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._tables:
            if name not in TABLE_NAMES:
                raise KeyError(f"unknown table {name!r}")
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            schemas = _SCHEMAS.setdefault(self.spark, {})
            if path not in schemas:
                schemas[path] = self.spark.read.parquet(path).schema
            df = self.spark.read.schema(schemas[path]).parquet(path)
            for c in _NANO_TS_COLS.get(name, ()):
                if c in df.columns and dict(df.dtypes)[c] == "bigint":
                    df = df.withColumn(
                        c,
                        F.expr(f"cast(timestamp_micros({c} div 1000) as timestamp_ntz)"),
                    )
            self._tables[name] = df
        return self._tables[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLE_NAMES:
            return self.table(name)
        raise AttributeError(name)


def load(spark: SparkSession, sf_dir: str) -> Catalog:
    """Table handles for one query call over ``sf_dir``, read with the
    session's cached schemas (see ``_SCHEMAS``)."""
    from .session import configure

    configure(spark)
    return Catalog(spark, sf_dir)
