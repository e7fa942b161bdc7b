"""Connections: where a Model executes.

The reference dispatches to 9 warehouse dialects through SQLAlchemy
(reference: src/model/connection/connection.py:11); here there is exactly one
engine — a SparkSession — and the "connection" is a table registry that maps
logical table names to lazy DataFrames, mirroring the reference's DuckDB
in-memory connection with registered frames/files
(reference: src/model/connection/duckdb_connection.py:19-111).

Scale notes: readers go through ``spark.read`` so Catalyst gets partition
pruning / predicate pushdown on parquet scans for free. ``register_*``
never materializes data on the driver.

Bring-your-own sessions: ``default_session`` sizes Spark's generated-code
cache (``spark.sql.codegen.cache.maxEntries``) to the query surface's
working set. That is a *static* conf, read once when the JVM's first
session starts; ``Connection(spark)`` cannot change it afterwards. A caller
who builds their own session must set it on the builder, or every pass
over more than 100 distinct query stages recompiles each stage.
"""

from __future__ import annotations

import os
from typing import Dict, Optional

from pyspark.sql import DataFrame, SparkSession


def default_session(app_name: str = "hashquery_spark", cpus: Optional[int] = None) -> SparkSession:
    """Build a local SparkSession tuned for the test/bench environment.

    On a real cluster callers pass their own session; these configs are the
    local-mode equivalents of sane cluster defaults (AQE on, sensible
    shuffle partition count). The codegen cache cap and the debugging switch
    below are not local-mode settings; they apply the same on a cluster.

    ``spark.python.sql.dataFrameDebugging.enabled=false`` stops PySpark from
    recording a Python call site for every Column/DataFrame API call (about
    8 py4j round trips per ``F.col``/``F.lit``/``F.when``). What is given up:
    runtime errors (ANSI overflow, divide by zero, cast failures) no longer
    name the Python ``file:line`` that built the failing expression. At the
    default depth of one frame that line is always inside hashquery_spark,
    never the caller's code. PySpark caches the switch per process on first
    use, so it cannot be turned back on in a running process."""
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = one JVM on the driver; this is the only memory knob.
        # 16g measured fastest here: oversized heaps (64g) made CPU-heavy
        # stages 4x slower via G1 young-gen behavior — raise via env when a
        # workload actually spills
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Spark has no TIMESTAMP(NANOS) parquet support (SPARK-40819); read
        # them as raw int64 nanos, then register_parquet casts back to
        # timestamps losslessly (integer DIV, no double roundtrip)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Whole-stage codegen keeps compiled classes in an LRU of 100 by
        # default. One cold pass over all 290 queries() entries at sf0.001
        # compiles 3,687 distinct classes and a second pass 124; at the
        # default cap both passes compile ~5,500, because every repeated
        # stage was evicted and is recompiled in Janino (pinned by
        # tests/test_plans.py::test_repeated_queries_reuse_generated_code).
        # The price is metaspace: 217 vs 187 MB after one such pass. Static
        # conf: fixed when the JVM's first session starts.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


def _restore_nano_timestamps(df: DataFrame, path: str) -> DataFrame:
    """With ``nanosAsLong`` enabled, timestamp[ns] parquet columns surface as
    int64 nanos; cast them back to timestamps (truncating to micros, which is
    Spark's native precision). Uses pyarrow to find affected columns."""
    try:
        import pyarrow.parquet as pq

        schema = pq.read_schema(path)
    except Exception:
        return df
    from pyspark.sql import functions as F

    for fld in schema:
        if str(fld.type).startswith("timestamp[ns") and fld.name in df.columns:
            df = df.withColumn(
                fld.name,
                F.expr(f"timestamp_micros(CAST(`{fld.name}` DIV 1000 AS LONG))"),
            )
    return df


class Connection:
    """A SparkSession plus a logical-name -> DataFrame registry."""

    def __init__(self, spark: Optional[SparkSession] = None) -> None:
        self.spark = spark or default_session()
        self._tables: Dict[str, DataFrame] = {}
        # make externally-created sessions able to read timestamp[ns]
        # parquet too (runtime-settable SQL conf; see _restore_nano_timestamps)
        try:
            self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass

    def __deepcopy__(self, memo):
        return self  # sessions/registries are shared, never copied

    # --- registration (mirrors duckdb_connection.py:91-111) ---

    def register_table(self, name: str, df: DataFrame) -> "Connection":
        self._tables[name] = df
        return self

    def register_parquet(self, name: str, path: str) -> "Connection":
        df = self.spark.read.parquet(path)
        df = _restore_nano_timestamps(df, path)
        return self.register_table(name, df)

    def register_csv(self, name: str, path: str, **options) -> "Connection":
        opts = {"header": "true", "inferSchema": "true", **options}
        return self.register_table(name, self.spark.read.options(**opts).csv(path))

    def register_json(self, name: str, path: str, **options) -> "Connection":
        return self.register_table(name, self.spark.read.options(**options).json(path))

    def register_orc(self, name: str, path: str, **options) -> "Connection":
        return self.register_table(name, self.spark.read.options(**options).orc(path))

    def register_avro(self, name: str, path: str, **options) -> "Connection":
        """Requires the spark-avro package on the classpath (external
        module); raises Spark's AnalysisException otherwise."""
        return self.register_table(
            name, self.spark.read.format("avro").options(**options).load(path)
        )

    def register_records(self, name: str, records: list, schema=None) -> "Connection":
        return self.register_table(name, self.spark.createDataFrame(records, schema=schema))

    def register_excel(self, name: str, path: str, **options) -> "Connection":
        """Load an ``.xlsx``/``.xls`` sheet (reference:
        src/model/connection/duckdb_connection.py:91-111 loads excel
        through pandas). Small dimension/config files only — the frame is
        driver-materialized through pandas and distributed from memory, so
        it broadcasts in joins; columnar formats are the data path.
        Requires an excel engine (openpyxl); raises ImportError with
        guidance otherwise."""
        import pandas as pd

        try:
            pdf = pd.read_excel(path, **options)
        except ImportError as e:
            raise ImportError(
                "register_excel needs an excel engine (pip install openpyxl); "
                f"pandas could not read {path!r}: {e}"
            ) from e
        return self.register_table(name, self.spark.createDataFrame(pdf))

    def register_file(self, name: str, path: str, **options) -> "Connection":
        """Extension-dispatched loader mirroring the reference's
        ``_load_df_from_content_ref`` (duckdb_connection.py:91-111):
        csv / parquet / json / orc / avro / xlsx by suffix."""
        lower = path.lower()
        if lower.endswith(".csv"):
            return self.register_csv(name, path, **options)
        if lower.endswith(".parquet"):
            return self.register_parquet(name, path)
        if lower.endswith(".json") or lower.endswith(".jsonl"):
            return self.register_json(name, path, **options)
        if lower.endswith(".orc"):
            return self.register_orc(name, path, **options)
        if lower.endswith(".avro"):
            return self.register_avro(name, path, **options)
        if lower.endswith(".xlsx") or lower.endswith(".xls"):
            return self.register_excel(name, path, **options)
        raise ValueError(
            "Cannot load file. Please provide a CSV, Parquet, JSON, ORC, "
            "Avro, or Excel file."
        )

    def register_dir(self, sf_dir: str) -> "Connection":
        """Register every ``<table>.parquet`` in a directory by stem name."""
        for fname in sorted(os.listdir(sf_dir)):
            if fname.endswith(".parquet"):
                self.register_parquet(fname[: -len(".parquet")], os.path.join(sf_dir, fname))
        return self

    # --- resolution ---

    def table(self, name: str) -> DataFrame:
        if name in self._tables:
            return self._tables[name]
        # fall through to the session catalog (temp views, hive tables)
        return self.spark.table(name)

    def sql(self, query: str) -> DataFrame:
        for name, df in self._tables.items():
            df.createOrReplaceTempView(name)
        return self.spark.sql(query)


def connection_for_dir(sf_dir: str, spark: Optional[SparkSession] = None) -> Connection:
    """Convenience: a Connection with all testdata tables registered."""
    return Connection(spark).register_dir(sf_dir)
