"""Loader drift guard: the testdata has been silently regenerated with a
different physical timestamp type between rounds (timestamp[ns] → tz-less
timestamp[us], VERDICT r4). The loader must normalize every generation to
one stable logical schema, and assert_testdata_schema must turn the NEXT
drift into one loud error.

The loader infers a file's schema once per file version: a warm read of an
unchanged file launches no Spark job, and a rewritten file or a flipped
inference conf is inferred again.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from rad_database_parse_spark.catalog.io import (
    EXPECTED_SCHEMAS,
    TESTDATA_TABLES,
    assert_testdata_schema,
    load_table,
    normalize_timestamps,
)


def test_all_tables_match_expected_schema(spark, sf_dir):
    assert_testdata_schema(spark, sf_dir)


def test_expected_schemas_cover_every_table():
    assert set(EXPECTED_SCHEMAS) == set(TESTDATA_TABLES)


def test_events_ts_is_plain_timestamp_and_micros_work(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    # the exact call every sessionization/window/streaming site makes —
    # TIMESTAMP_NTZ input would throw DATATYPE_MISMATCH here
    n = e.select(F.unix_micros("ts").alias("us")).filter(F.col("us").isNotNull()).count()
    assert n == e.count()


def test_normalize_timestamps_casts_ntz(spark):
    df = spark.sql(
        "SELECT TIMESTAMP_NTZ '2024-01-02 03:04:05.123456' AS ts, 1 AS x"
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = normalize_timestamps(df)
    assert dict(out.dtypes) == {"ts": "timestamp", "x": "int"}
    # UTC session: the wall-clock value is preserved bit-for-bit
    got = out.select(F.unix_micros("ts").alias("us")).collect()[0]["us"]
    assert got == 1704164645123456


def test_assert_fails_loud_on_drift(spark, sf_dir, monkeypatch):
    import rad_database_parse_spark.catalog.io as io_mod

    bad = {k: dict(v) for k, v in EXPECTED_SCHEMAS.items()}
    bad["events"]["ts"] = "timestamp_ntz"
    monkeypatch.setattr(io_mod, "EXPECTED_SCHEMAS", bad)
    with pytest.raises(AssertionError, match="events"):
        assert_testdata_schema(spark, sf_dir)


NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
BINARY_CONF = "spark.sql.parquet.binaryAsString"


@pytest.fixture(params=["file", "dir"])
def one_table(tmp_path, request):
    """``one_table(table)`` (re)writes table ``t`` as one parquet file, or
    as a directory holding one; returns its sf_dir."""

    def write(table: pa.Table) -> str:
        path = tmp_path / "t.parquet"
        if request.param == "dir":
            path.mkdir(exist_ok=True)
            path = path / "part-0.parquet"
        pq.write_table(table, path)
        return str(tmp_path)

    return write


def test_warm_load_of_unchanged_file_launches_no_job(spark, sf_dir, count_jobs):
    load_table(spark, sf_dir, "events")  # sets the nanos conf
    cold = load_table(spark, sf_dir, "lineitem")
    jobs, warm = count_jobs(lambda: load_table(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()


def test_rewritten_file_is_inferred_again(spark, one_table, count_jobs):
    d = one_table(pa.table({"a": [1, 2]}))
    assert load_table(spark, d, "t").columns == ["a"]
    jobs, df = count_jobs(lambda: load_table(spark, d, "t"))
    assert (jobs, df.columns) == (0, ["a"])
    one_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}))
    jobs, df = count_jobs(lambda: load_table(spark, d, "t"))
    assert jobs == 1
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(1, "x"), (2, "y"), (3, "z")]


def test_flipping_an_inference_conf_infers_again(spark, one_table):
    d = one_table(pa.table({
        "ts": pa.array([1_000, 2_000], pa.timestamp("ns")),
        "b": pa.array([b"x", b"y"]),
    }))
    before = {k: spark.conf.get(k) for k in (NANOS_CONF, BINARY_CONF)}
    try:
        spark.conf.set(NANOS_CONF, "true")
        spark.conf.set(BINARY_CONF, "false")
        assert load_table(spark, d, "t").dtypes == [("ts", "bigint"), ("b", "binary")]
        spark.conf.set(BINARY_CONF, "true")
        assert load_table(spark, d, "t").dtypes == [("ts", "bigint"), ("b", "string")]
        # a memoized bigint would hide what the reader now rejects
        spark.conf.set(NANOS_CONF, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, d, "t")
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def test_events_read_leaves_other_tables_memoized(spark, sf_dir, count_jobs, monkeypatch):
    import rad_database_parse_spark.catalog.io as io_mod

    monkeypatch.setattr(io_mod, "_SCHEMAS", {})
    before = spark.conf.get(NANOS_CONF)
    assert before == "true"  # get_session sets it when it builds the session
    load_table(spark, sf_dir, "lineitem")
    load_table(spark, sf_dir, "events")
    jobs, _ = count_jobs(lambda: load_table(spark, sf_dir, "lineitem"))
    assert jobs == 0
    assert spark.conf.get(NANOS_CONF) == before


def test_events_read_sets_nanos_conf_on_a_session_built_elsewhere(spark, sf_dir):
    spark.conf.set(NANOS_CONF, "false")
    try:
        e = load_table(spark, sf_dir, "events")
        assert spark.conf.get(NANOS_CONF) == "true"
        assert dict(e.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(NANOS_CONF, "true")
