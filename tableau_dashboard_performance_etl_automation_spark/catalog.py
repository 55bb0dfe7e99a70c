"""Table catalog over the driver's parquet testdata.

Mirrors the reference's fixed externally-declared schema model
(SURVEY.md §1.2: tables pre-exist in Vertica, the script never issues
DDL): schemas here are known up front, loaders normalize physical
quirks (nanosecond timestamps) into clean logical types once, at scan
time, so every downstream operator sees a stable relational catalog.

The schemas are known up front to the reader too: every parquet read
in the engine (these tables and the warehouse artifacts) goes through
:func:`read_parquet`, which infers a path's schema once and hands it
to later reads of the unchanged files, so building a query starts no
Spark job.

A query whose SQL text plans no worse than a DataFrame builder is
registered as that text alone: :func:`sql_query` binds its ``{table}``
placeholders to these tables on Spark, and :func:`oracle_text` renders
the same text with plain table names for the DuckDB oracle.
"""

from __future__ import annotations

import os
import string
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

#: All tables the driver materializes per scale factor (TESTDATA.md).
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


#: SQL confs the engine's semantics depend on. All three are
#: runtime-settable, so they also take effect on sessions we did not
#: build (e.g. the driver's own smoke-check session).
_REQUIRED_SQL_CONFS = {
    # events.parquet stores TIMESTAMP(NANOS), which Spark's reader
    # otherwise rejects outright; read as BIGINT nanos + convert below.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # tz-naive parquet TIMESTAMP(MICROS) must surface as TIMESTAMP
    # (session-UTC), not TIMESTAMP_NTZ: the engine's epoch functions
    # (unix_millis / unix_timestamp) reject NTZ, and the DuckDB oracle
    # treats the same bytes as plain TIMESTAMP in a UTC session.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Vertica-lax casts guarded by rlike filters (SURVEY.md §1.3).
    "spark.sql.ansi.enabled": "false",
    # Deterministic date/timestamp semantics matching the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
}


def ensure_engine_confs(spark: SparkSession) -> None:
    for key, val in _REQUIRED_SQL_CONFS.items():
        if spark.conf.get(key, None) != val:
            spark.conf.set(key, val)


#: Session confs that change what parquet schema inference returns for
#: the same files; their values are part of a schema's fingerprint.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: path → (fingerprint, inferred schema); one entry per distinct path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """Sorted (file, size, mtime_ns) of every file under ``path`` plus
    the inference confs, or ``None`` when ``path`` is not a local file
    or directory (a URI such as ``s3a://...``, or a missing path)."""
    if not os.path.exists(path):
        return None
    if os.path.isfile(path):
        files = [path]
    else:
        files = [
            os.path.join(root, name)
            for root, _dirs, names in os.walk(path)
            for name in names
        ]
    stats = []
    for f in sorted(files):
        st = os.stat(f)
        stats.append((f, st.st_size, st.st_mtime_ns))
    confs = tuple(spark.conf.get(key, None) for key in _INFERENCE_CONFS)
    return tuple(stats), confs


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only once per
    version of the files.

    Inference is a Spark job (it reads the footers), started on every
    plain read. Here the inferred schema is kept per path under a
    fingerprint of the files (name, size, mtime in ns) and of the
    session confs that change inference; while both match, the read
    passes the schema and starts no job. A changed fingerprint infers
    again and replaces the entry. The key comes from the files
    themselves, so nothing has to invalidate it: the only way to be
    served a stale schema is a file rewritten in place with the same
    name, size and mtime to the nanosecond. Non-local and missing paths
    are read (and fail) exactly as ``spark.read.parquet`` does.
    """
    fp = _fingerprint(spark, path)
    if fp is None:
        return spark.read.parquet(path)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (fp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing physical storage quirks.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark's
    reader only surfaces as BIGINT nanos (via
    ``spark.sql.legacy.parquet.nanosAsLong``); convert to a proper
    timestamp (microsecond precision, same truncation DuckDB applies).
    The conversion is a cheap projection — it does not break column
    pruning or predicate pushdown on the other columns.
    """
    ensure_engine_confs(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") in ("bigint", "long"):
        # integer division: `ts / 1000` in double loses precision at
        # 1.7e18 nanos (double ulp ≈ 256 ns → off-by-1 µs vs DuckDB's
        # exact integer ns→µs truncation)
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def _placeholders(text: str) -> list[str]:
    """The ``{table}`` placeholders of a query text; each must name a
    catalog table."""
    names = {
        field for _lit, field, _spec, _conv in string.Formatter().parse(text)
        if field is not None
    }
    unknown = names - set(TABLES)
    if unknown:
        raise ValueError(f"placeholders name no catalog table: {sorted(unknown)}")
    return sorted(names)


def sql_query(text: str) -> Callable[[SparkSession, str], DataFrame]:
    """A query builder that runs ``text`` on Spark, each ``{table}``
    placeholder bound to :func:`load_table` of the caller's ``sf_dir``.

    The binding is per call: ``spark.sql`` registers each frame under a
    fresh temporary name while it analyzes the text and drops the names
    before it returns, so two corpora can be queried in one session and
    the catalog is left as it was. Analysis reads only schemas, so the
    build starts no Spark job. The builder carries its text as
    ``sql_text``.
    """
    tables = _placeholders(text)

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(text, **{t: load_table(spark, sf_dir, t) for t in tables})

    build.sql_text = text  # type: ignore[attr-defined]
    return build


def oracle_text(text: str) -> str:
    """``text`` with each ``{table}`` placeholder replaced by the plain
    table name, as the DuckDB oracle reads it."""
    return text.format(**{t: t for t in _placeholders(text)})
