"""Catalog: register parquet tables from a scale-factor directory.

Reference parity: Calcite's Schema/SchemaPlus (core/.../schema/Schema.java) is
a named collection of tables resolved at validate time; Spark's catalog plays
the same role. ``register_tables`` materializes the driver's TPC-H-ish star
schema (TESTDATA.md) as temp views so both the DataFrame builder and
``spark.sql`` resolve the same names the DuckDB oracle sees.

Scale notes: views over ``spark.read.parquet`` keep scans lazy — predicate
pushdown and column pruning reach the parquet reader (PushedFilters/ReadSchema
in .explain). No caching by default: at 100 TB you cache nothing blindly.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

TABLES = [
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
]

# Dimension tables small enough to broadcast at ANY scale factor (region and
# nation are fixed-size in TPC-H; supplier/part grow slowly). Used by queries
# to hint broadcast joins explicitly where it matters.
BROADCAST_SAFE = {"region", "nation"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-scoped memo of the LAZY table plans (and the registered-views
# marker below): building a DataFrame costs a parquet-footer read for
# schema inference plus a dozen py4j round-trips, and every query entry
# point re-derives its tables — at bench best-of-N that is pure
# per-sample catalog overhead (~0.2 s/table on the sandbox host). The
# memo holds PLANS only, never data or results: every action against a
# memoized DataFrame re-scans parquet (same contract as Spark's own
# session-level file-listing cache, optimization guide §6). Keyed
# weakly per SparkSession so the driver's session and test sessions
# stay isolated, and per (sf_dir, table) so scale switches re-derive.
_TABLE_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def _session_memo(spark: SparkSession) -> dict:
    global _TABLE_PLANS
    if _TABLE_PLANS is None:
        import weakref

        _TABLE_PLANS = weakref.WeakKeyDictionary()
    memo = _TABLE_PLANS.get(spark)
    if memo is None:
        memo = {}
        _TABLE_PLANS[spark] = memo
    return memo


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver table, normalizing physical-type quirks.

    ``events.ts`` is parquet INT64 TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; we read it via the nanos-as-long legacy path and convert
    to a microsecond TimestampType (Spark's native precision). Sub-microsecond
    digits are truncated — queries must not emit raw ``ts`` into results that
    an oracle with ns precision will hash.
    """
    path = table_path(sf_dir, name)
    ensure_semantics(spark)
    memo = _session_memo(spark)
    key = (os.path.abspath(sf_dir), name)
    cached = memo.get(key)
    if cached is not None:
        return cached
    memo[key] = df = _read_table_uncached(spark, path, name)
    return df


def _read_table_uncached(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            # Integer division: int64 nanos (~1.7e18) exceed double's 2^53
            # mantissa, so `/ 1000` + cast can be off by 1µs near boundaries.
            # pmod-subtract gives FLOOR division (DIV truncates toward zero,
            # which would round pre-1970 negative nanos up by 1µs).
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) DIV 1000"))
            )
        elif ts_dtype == "timestamp_ntz":
            # parquet timestamp[us] isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ, which withWatermark rejects and which cannot be
            # cast to BIGINT. Session TZ is pinned UTC (session.py), so an
            # NTZ→TIMESTAMP cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


# Runtime-settable semantic confs the engine's plans assume. session.get_spark()
# sets them at build time, but the DRIVER hands the engine ITS OWN SparkSession
# (Spark 4 defaults: ANSI ON), so every query entry point re-asserts them here —
# the same pattern read_table already used for nanosAsLong. Without this,
# permissive-cast expressions (e.g. st_srid's cast of a regexp_extract miss)
# crash with CAST_INVALID_INPUT under the driver's ANSI-on session even though
# the whole pytest suite (engine session, ANSI off) is green.
_SEMANTIC_CONFS = {
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.decimalOperations.allowPrecisionLoss": "false",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_semantics(spark: SparkSession) -> None:
    """Re-assert the engine's semantic confs on an externally-created session.

    Check-first so a session that already has them (the engine's own) is not
    mutated; all four keys are runtime-settable SQLConf entries.
    """
    for key, want in _SEMANTIC_CONFS.items():
        if spark.conf.get(key, None) != want:
            spark.conf.set(key, want)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table in the scale directory as a lazy DataFrame."""
    ensure_semantics(spark)
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        if os.path.exists(table_path(sf_dir, name)):
            out[name] = read_table(spark, sf_dir, name)
    return out


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register all tables as temp views (idempotent) and return them.

    The createOrReplaceTempView loop is skipped when THIS session's views
    already point at THIS scale dir (the memo above tracks it) — a
    catalog registration, like schema inference, is per-session work,
    not per-statement work. Switching ``sf_dir`` re-registers."""
    dfs = load_tables(spark, sf_dir)
    memo = _session_memo(spark)
    marker = ("__registered_sf_dir__",)
    if memo.get(marker) != os.path.abspath(sf_dir):
        for name, df in dfs.items():
            df.createOrReplaceTempView(name)
        memo[marker] = os.path.abspath(sf_dir)
    return dfs


# ------------------------------------------------------------- sequences
# NEXT VALUE FOR / CURRENT VALUE FOR (SqlStdOperatorTable.java:2206-2213;
# core/src/test/resources/sql/sequence.iq) — a session-scoped sequence
# catalog. Semantics contract: each STATEMENT that references
# NEXT VALUE FOR drains one value per produced row (Calcite's behavior
# in sequence.iq: two rows -> 1, 2; CURRENT VALUE then reads 2).
# calcite_sql implements that by pre-counting the statement's rows and
# advancing the counter before returning the (literal-based, stable)
# DataFrame. Steady-state DISTRIBUTED sequences remain by-design out of
# scope (SURVEY §2.4: a 1000-executor cluster needs block allocation
# from a coordination service, not a driver dict); this surface covers
# the reference's actual sequence test matrix — session DDL + small
# statements — and fails loudly on unknown names. Clients share one
# session across threads, so every mutation holds _SEQ_LOCK.

_SEQUENCES: "dict[str, dict]" = {}
_SEQ_LOCK = threading.Lock()


def create_sequence(name: str, start: int = 1, increment: int = 1) -> None:
    """(Re)create a sequence — resets its counter (fixture semantics)."""
    with _SEQ_LOCK:
        _SEQUENCES[name.lower()] = {
            "next": start, "inc": increment, "start": start}


def get_sequence(name: str) -> "dict | None":
    return _SEQUENCES.get(name.lower())


def advance_sequence(name: str, n_rows: int) -> None:
    with _SEQ_LOCK:
        seq = _SEQUENCES[name.lower()]
        seq["next"] += n_rows * seq["inc"]


def sequence_names() -> "list[str]":
    return sorted(_SEQUENCES)
