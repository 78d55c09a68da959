"""Parquet IO over the driver testdata + generic read/write helpers.

All reads are plain ``spark.read.parquet`` so Catalyst's vectorized reader,
predicate pushdown, and column pruning apply. Writers partition by the given
keys so downstream queries get partition pruning (the Spark replacement for
the reference's table-per-category design, database.py:244-251).

Schema inference is a Spark job (a footer merge over the input files), and
a registry query reads the same unchanged testdata files many times. So
``load_table`` infers each file's schema once per file version: the
module-level memo ``_SCHEMAS`` maps a path to ``(fingerprint, schema)``,
where the fingerprint is ``(st_ino, st_size, st_mtime_ns)`` of the file
(or those and the relative name of every file under a directory path)
plus the values of the confs in ``_SCHEMA_CONFS``. A hit reads with the
memoized schema and launches no job; a changed file or conf re-infers and
replaces the entry, so drift still reaches ``assert_testdata_schema``. A
path ``os.stat`` cannot see (a non-local URI) is inferred on every read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = [
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Tables whose parquet has carried TIMESTAMP(NANOS) columns in some testdata
# generations (Spark's vectorized reader rejects nanos by default; the legacy
# conf reads them as long and we convert to micros). Later generations store
# the same columns as tz-less micros, which Spark 4 reads as TIMESTAMP_NTZ —
# normalize_timestamps below folds both shapes to one stable TIMESTAMP type.
NANO_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


def normalize_timestamps(df: DataFrame, nano_cols: list[str] | None = None) -> DataFrame:
    """Fold every timestamp representation the testdata has ever shipped to
    plain TIMESTAMP (session tz is pinned UTC in session.py, so the cast is a
    pure retype — wall-clock values are preserved and DuckDB-oracle parity
    holds, DuckDB reading the same parquet as naive-UTC):

    - TIMESTAMP_NTZ (parquet timestamp[us], isAdjustedToUTC=false) → cast.
      Every ``unix_micros()`` call site rejects NTZ input, so leaving it
      untouched breaks sessionization/windows/streaming wholesale.
    - nanos-as-long (parquet timestamp[ns] under the legacy conf) → truncate
      to micros, matching how micro-resolution engines read nanos.
    """
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
        elif field.name in (nano_cols or []) and isinstance(
            field.dataType, T.LongType
        ):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
    return df


# The confs that change what parquet schema inference returns for the same
# files; each is part of a memo entry's fingerprint.
_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
_SCHEMA_CONFS = (
    _NANOS_CONF,
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> (fingerprint, inferred schema); at most one entry per path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def file_version(path: str) -> tuple | None:
    """The version of a local file or directory as ``os.stat`` sees it:
    ``(st_ino, st_size, st_mtime_ns)`` of a file, or the relative name and
    those of every file under a directory. None when the path is not on
    the local file system. Pure ``os`` calls, no Spark; the schema memo
    here and the registry's prepared-plan memo both key on it."""
    try:
        if os.path.isdir(path):
            files = []
            for dirpath, dirnames, filenames in os.walk(path):
                dirnames.sort()
                for fn in sorted(filenames):
                    full = os.path.join(dirpath, fn)
                    st = os.stat(full)
                    files.append(
                        (os.path.relpath(full, path), st.st_ino, st.st_size, st.st_mtime_ns)
                    )
            return tuple(files)
        st = os.stat(path)
        return (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        return None


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """The file version and inference confs a schema was inferred under;
    None when the path is not on the local file system."""
    stats = file_version(path)
    if stats is None:
        return None
    return stats, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, inferring the schema only when the
    file or an inference conf changed since the last read of `path`."""
    fp = _fingerprint(spark, path)
    hit = _SCHEMAS.get(path)
    if fp is not None and hit is not None and hit[0] == fp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    if fp is not None:
        _SCHEMAS[path] = (fp, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table; Catalyst prunes columns/filters at the scan.
    Timestamp columns are normalized to TIMESTAMP whatever physical type the
    current testdata generation uses (see normalize_timestamps). The
    parquet schema is inferred once per file version (see ``_SCHEMAS``)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    nano_cols = NANO_TS_COLUMNS.get(name, [])
    # get_session sets the conf at build, so tables read before the first
    # `events` keep their _SCHEMAS fingerprint; this write is for sessions
    # built elsewhere
    if nano_cols and spark.conf.get(_NANOS_CONF) != "true":
        spark.conf.set(_NANOS_CONF, "true")
    return normalize_timestamps(_read_parquet(spark, path), nano_cols)


# Logical schema each testdata table must present AFTER normalization —
# spark simpleString dtypes. The driver regenerates /root/testdata between
# rounds and has silently changed physical timestamp types before (nanos →
# tz-less micros, VERDICT r4); this assertion turns the next drift into ONE
# loud error at the loader instead of scattered AnalysisExceptions at every
# call site.
EXPECTED_SCHEMAS: dict[str, dict[str, str]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": "timestamp",
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": "timestamp",
    },
    "events": {
        "event_id": "bigint",
        "ts": "timestamp",
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def assert_testdata_schema(spark: SparkSession, sf_dir: str) -> None:
    """Fail loud (one aggregated error) if any testdata table's normalized
    schema drifts from EXPECTED_SCHEMAS."""
    problems = []
    for name, expected in EXPECTED_SCHEMAS.items():
        got = dict(load_table(spark, sf_dir, name).dtypes)
        if got != expected:
            drift = {
                k: (expected.get(k), got.get(k))
                for k in set(expected) | set(got)
                if expected.get(k) != got.get(k)
            }
            problems.append(f"{name}: {drift}")
    if problems:
        raise AssertionError(
            "testdata schema drift (expected vs read): " + "; ".join(problems)
        )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for the SQL surface."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite"
) -> None:
    """Partitioned parquet sink (replaces the reference's per-row INSERT,
    database.py:18-32, with one distributed append)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    out_path: str | None = None,
) -> str:
    """Small-file compaction: rewrite a parquet directory into files sized
    for scan efficiency (~target_file_mb each, the row-group sweet spot a
    100 TB table needs — thousands of KB-sized files turn a scan into a
    metadata storm). File count is computed from the actual input bytes;
    the rewrite is one read → repartition → write with no shuffle beyond
    the repartition itself. Writes to `out_path` (or `path + '_compacted'`)
    — atomic swap is the caller's move (or a lake format's)."""
    import pathlib

    total_bytes = sum(
        f.stat().st_size for f in pathlib.Path(path).rglob("*.parquet")
    )
    n_files = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    dest = out_path or path.rstrip("/") + "_compacted"
    spark.read.parquet(path).repartition(int(n_files)).write.mode(
        "overwrite"
    ).parquet(dest)
    return dest
