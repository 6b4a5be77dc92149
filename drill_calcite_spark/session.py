"""SparkSession factory tuned for the engine.

Reference parity: Calcite's prepare pipeline (CalcitePrepareImpl.java:467)
configures lexing/conformance per connection; our analogue is a SparkSession
with a fixed, scale-aware configuration. Cost-based optimization (Calcite's
VolcanoPlanner, plan/volcano/VolcanoPlanner.java:573) maps to Catalyst CBO +
AQE, which we enable here (SURVEY.md §4.2).

Scale notes (100 TB design): every knob below is chosen so the same code runs
on a real cluster by *only* changing master/memory: AQE handles runtime
coalescing + skew joins, shuffle partitions are a starting hint that AQE
re-plans, Arrow is on for the few pandas-UDF operators, and session TZ is
pinned UTC so timestamp semantics don't depend on cluster locale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Entries in Spark's cache of compiled whole-stage/expression classes
# (spark.sql.codegen.cache.maxEntries, Spark's default 100). Catalyst
# generates Java source for every plan and compiles it with Janino, the
# job Calcite's EnumerableInterpretable does per statement; the cache is
# keyed by the source text, so a plan shape seen before compiles
# nothing. One benchmark process compiles ~270 distinct classes for the
# batch pipeline (11 registry queries among versioned-table DML) and
# ~190 in 17 s of interactive templates, a number that keeps growing as
# new literals arrive (each literal is inlined into the source). At 100
# entries the batch working set evicts itself every cycle and
# byte-identical code is recompiled, 12-14 compiles per operation; at
# 2000 that falls to 0.2-0.3. A class averages 2.5-3.5 KB of bytecode,
# and metaspace ends lower, not higher, because fewer classes get
# loaded. A constant, not an option: it follows from the engine's plan
# mix, like the settings below. It is a static conf, so it applies only
# when get_spark creates the SparkContext; a session built elsewhere
# keeps whatever cache size it started with.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "drill_calcite_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) the engine's SparkSession.

    On a real cluster, pass ``master=None`` and let spark-submit decide; in
    local mode we default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- optimizer: let Catalyst + AQE do Calcite's §4 job ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CBO is off: we never ANALYZE the driver tables, so static CBO has no
        # stats to use and only adds planning cost; AQE re-plans from *runtime*
        # stats, which is Calcite's VolcanoPlanner role here (SURVEY.md §4.2).
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        # each plan shape compiled once per process (see the constant)
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_ENTRIES))
        # --- semantics ---
        .config("spark.sql.session.timeZone", "UTC")
        # Calcite does not silently lose DECIMAL precision (RelDataTypeSystem);
        # match that (SURVEY.md §7 phase 4.5).
        .config("spark.sql.decimalOperations.allowPrecisionLoss", "false")
        # Engine queries use non-ANSI permissive evaluation: the driver oracle
        # (DuckDB) and Calcite both return NULL rather than erroring for e.g.
        # bad casts in filters that get speculatively evaluated.
        .config("spark.sql.ansi.enabled", "false")
        # events.ts is parquet INT64 TIMESTAMP(NANOS); read it as long and
        # convert in catalog.read_table (which re-asserts this conf for
        # externally-created sessions, e.g. the driver's).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- python boundary: Arrow batches for the pandas-UDF operators ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # PySpark 4 records the Python call site of every DataFrame and
        # Column call (pyspark/errors/utils.py _with_origin): a session
        # lookup, a conf read, then setting and clearing the origin, all
        # py4j round trips. Building one MV-served statement took 358
        # round trips with it and 101 without. Turning it off costs only
        # the Python file:line origin in an error's query context: errors
        # still raise. Set here, on the engine's own session only;
        # catalog.ensure_semantics leaves a caller's session as it is.
        # PySpark reads the setting once per process, from the session
        # active at the first DataFrame or Column call.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # --- DDL surface: managed CREATE TABLE targets land in a
        # per-process scratch warehouse, never the repo cwd (the quidem
        # blank-schema cases create real tables) ---
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               f"/tmp/spark_graft_warehouse_{os.getpid()}"))
        # --- local-mode niceties (no-ops on a cluster manager) ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
