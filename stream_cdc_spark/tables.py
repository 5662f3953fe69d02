"""Testdata table loaders.

The driver materializes deterministic parquet tables (TESTDATA.md):
  region nation customer supplier part orders lineitem events documents
  embeddings
under /root/testdata/sf{0.001,0.01,0.1}/. All engine queries read these via
``spark.read.parquet`` so Catalyst gets parquet filter pushdown + column
pruning for free (verified by .explain in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
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

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Timestamp columns whose parquet physical type has varied across driver
# testdata generations: TIMESTAMP(NANOS) (readable only as int64 via
# nanosAsLong — Spark has no ns type) or TIMESTAMP(MICROS) (read natively,
# as TIMESTAMP_NTZ when the file is not UTC-adjusted). ``_normalize_ts``
# converges every physical shape onto session-tz TimestampType with
# microsecond values identical to DuckDB's read of the same file.
_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_session_conf(spark: SparkSession) -> None:
    """Session settings the engine depends on, applied idempotently so the
    driver's own SparkSession (which we don't construct) behaves the same
    as one from session.get_spark()."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_ts(df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """Converge a ts column onto TimestampType regardless of how the parquet
    physical type resolved:

    - ``bigint``        -> int64 nanos (nanosAsLong); integer ``div`` 1000
                           (not ``/`` — ns epochs exceed double's mantissa),
                           then timestamp_micros. Matches DuckDB's NANOS
                           truncation to its microsecond TIMESTAMP.
    - ``timestamp_ntz`` -> cast to session-tz timestamp (UTC session, so
                           values are unchanged).
    - ``timestamp``     -> already the target type; untouched.
    """
    dtypes = dict(df.dtypes)
    for c in cols:
        dt = dtypes.get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _parquet_has_nanos(path: str) -> bool | None:
    """Probe the parquet footer for a TIMESTAMP(NANOS) column.

    Returns True/False from a direct pyarrow footer read, or None when the
    probe can't answer (pyarrow missing, non-local path such as s3://, or
    an unreadable footer) so the caller can fall back. Reading one footer
    driver-side is O(KB) regardless of table size, so this costs nothing
    at cluster scale — and on object stores, where ``os.path`` can't see
    the files, the None branch keeps behavior unchanged.
    """
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat
    except ImportError:  # pragma: no cover - pyarrow is a baked-in dep here
        return None
    target = path
    if os.path.isdir(path):
        parts = sorted(
            p for p in os.listdir(path) if p.endswith(".parquet") and not p.startswith("_")
        )
        if not parts:
            return None
        target = os.path.join(path, parts[0])
    try:
        schema = pq.ParquetFile(target).schema_arrow
    except Exception:  # noqa: BLE001 - any footer problem -> let Spark report it
        return None
    return any(pat.is_timestamp(f.type) and f.type.unit == "ns" for f in schema)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Read parquet, enabling the legacy nanosAsLong conf only when the file
    actually carries TIMESTAMP(NANOS) — avoids mutating shared session conf
    as a side effect when the data doesn't need it.

    Dispatch is on the parquet footer's physical type (pyarrow), not on
    Spark's Illegal-Parquet-type error text, so a Spark version that
    rewords the message can't regress the loader (round-3 advice item).
    The message sniff survives only as the last-resort fallback for paths
    the driver-side probe can't inspect (e.g. remote object stores).
    """
    nanos = _parquet_has_nanos(path)
    if nanos is not None:
        if nanos:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)
    return _read_parquet_sniff_fallback(spark, path)


def _read_parquet_sniff_fallback(spark: SparkSession, path: str) -> DataFrame:
    """Last-resort path for footers the driver can't probe directly."""
    try:
        df = spark.read.parquet(path)
        df.schema  # force schema resolution so a NANOS file fails here
        return df
    except Exception as exc:  # noqa: BLE001 - dispatch on Spark's error text
        if "NANOS" not in str(exc):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_session_conf(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    return _normalize_ts(df, _TS_COLS.get(name, ()))
