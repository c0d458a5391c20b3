"""Write-back path: parquet -> bulk INSERT / exec (reference insert.rs,
execute.rs, input.rs) against a real DBAPI target (sqlite)."""

import datetime
import decimal
import sqlite3

import pytest
from pyspark.sql import types as T

from odbc2parquet_spark.params import PlaceholderError
from odbc2parquet_spark.sinks.writeback import (
    UnsupportedInsertType,
    execute_parquet,
    generate_insert_statement,
    insert_parquet,
    validate_insertable_schema,
)


@pytest.fixture()
def typed_parquet(spark, tmp_path):
    """Fixture shaped like FIXTURES.md F11: one column per insertable type."""
    schema = T.StructType(
        [
            T.StructField("b", T.BooleanType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("f", T.DoubleType()),
            T.StructField("d", T.DecimalType(10, 2)),
            T.StructField("s", T.StringType()),
            T.StructField("dt", T.DateType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("raw", T.BinaryType()),
        ]
    )
    rows = [
        (
            True,
            42,
            10**12,
            1.5,
            decimal.Decimal("9.99"),
            "Hello",
            datetime.date(2020, 9, 9),
            datetime.datetime(2020, 9, 16, 3, 54, 12),
            b"\x01\x02",
        ),
        (False, -1, -(10**12), -2.5, decimal.Decimal("-1.50"), None, None, None, None),
    ]
    path = str(tmp_path / "typed.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    return path


def _sqlite_factory(db_path):
    def factory():
        return sqlite3.connect(db_path, timeout=60)

    return factory


def test_insert_roundtrip(spark, tmp_path, typed_parquet):
    db = str(tmp_path / "t.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE tgt (b, i, l, f, d, s, dt, ts, raw)")
    con.commit()
    con.close()

    n = insert_parquet(spark, typed_parquet, "tgt", connection_factory=_sqlite_factory(db))
    assert n == 2
    con = sqlite3.connect(db)
    rows = con.execute("SELECT b, i, l, f, d, s, dt, ts, raw FROM tgt ORDER BY i DESC").fetchall()
    con.close()
    assert rows[0] == (
        1,
        42,
        10**12,
        1.5,
        "9.99",  # decimals travel as decimal text (input.rs:795-823)
        "Hello",
        "2020-09-09",
        "2020-09-16 03:54:12.000000",
        b"\x01\x02",
    )
    assert rows[1][5] is None and rows[1][6] is None  # NULLs pass through


def test_exec_named_placeholders(spark, tmp_path, typed_parquet):
    db = str(tmp_path / "e.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE log (msg, num, num_again)")
    con.commit()
    con.close()

    # switched order + same column bound twice (tests/integration.rs:3842,3882)
    n = execute_parquet(
        spark,
        typed_parquet,
        "INSERT INTO log (msg, num, num_again) VALUES (?s?, ?i?, ?i?)",
        connection_factory=_sqlite_factory(db),
    )
    assert n == 2
    con = sqlite3.connect(db)
    rows = con.execute("SELECT msg, num, num_again FROM log ORDER BY num DESC").fetchall()
    con.close()
    assert rows[0] == ("Hello", 42, 42)


def test_exec_unknown_placeholder_errors(spark, typed_parquet):
    with pytest.raises(PlaceholderError, match="nope"):
        execute_parquet(
            spark, typed_parquet, "INSERT INTO x VALUES (?nope?)", connection_factory=lambda: None
        )


def test_non_primitive_rejected():
    # input.rs:187-193: "only able to insert primitive types"
    schema = T.StructType([T.StructField("arr", T.ArrayType(T.IntegerType()))])
    with pytest.raises(UnsupportedInsertType, match="primitive"):
        validate_insertable_schema(schema)


def test_generated_statement_quotes_identifiers():
    stmt = generate_insert_statement("ta`ble", ["a", "b c"])
    assert stmt == 'INSERT INTO "ta`ble" ("a", "b c") VALUES (?, ?)'


@pytest.mark.slow
def test_insert_full_type_matrix_duckdb(spark, tmp_path):
    """The reference's insert matrix (tests/integration.rs:2208-3798, every
    type x optionality) against a STRONGLY typed DBAPI target: all integer
    widths, both float widths, the three decimal classes (i32/i64/FLBA
    precision tiers), date/timestamp, text, binary — each column carrying a
    NULL in one row."""
    import duckdb

    schema = T.StructType(
        [
            T.StructField("c_bool", T.BooleanType()),
            T.StructField("c_i8", T.ByteType()),
            T.StructField("c_i16", T.ShortType()),
            T.StructField("c_i32", T.IntegerType()),
            T.StructField("c_i64", T.LongType()),
            T.StructField("c_f32", T.FloatType()),
            T.StructField("c_f64", T.DoubleType()),
            T.StructField("c_dec9", T.DecimalType(9, 2)),
            T.StructField("c_dec18", T.DecimalType(18, 4)),
            T.StructField("c_dec38", T.DecimalType(38, 10)),
            T.StructField("c_str", T.StringType()),
            T.StructField("c_bin", T.BinaryType()),
            T.StructField("c_date", T.DateType()),
            T.StructField("c_ts", T.TimestampNTZType()),
        ]
    )
    full = (
        True, 127, -32768, 2**31 - 1, -(2**62),
        1.25, -9.75,
        decimal.Decimal("1234567.89"),
        decimal.Decimal("12345678901234.5678"),
        decimal.Decimal("1234567890123456789012345678.0123456789"),
        "grüß-gott",
        b"\x00\xff\x10",
        datetime.date(1999, 12, 31),
        datetime.datetime(2262, 4, 11, 23, 47, 16),
    )
    rows = [full, tuple(None for _ in full)]
    path = str(tmp_path / "matrix.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)

    db = str(tmp_path / "m.duckdb")
    cols = ", ".join(f"{f.name} {t}" for f, t in zip(schema.fields, [
        "BOOLEAN", "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT",
        "DOUBLE", "DECIMAL(9,2)", "DECIMAL(18,4)", "DECIMAL(38,10)",
        "VARCHAR", "BLOB", "DATE", "TIMESTAMP",
    ]))
    with duckdb.connect(db) as c:
        c.execute(f"CREATE TABLE matrix ({cols})")

    def factory():
        return duckdb.connect(db)

    n = insert_parquet(spark, path, "matrix", connection_factory=factory)
    assert n == 2
    with duckdb.connect(db) as c:
        back = c.execute("SELECT * FROM matrix ORDER BY c_bool NULLS LAST").fetchall()
    got_full, got_null = back
    assert got_null == tuple(None for _ in full)
    assert got_full[:5] == full[:5]
    assert got_full[5] == pytest.approx(1.25) and got_full[6] == pytest.approx(-9.75)
    assert got_full[7:10] == full[7:10]  # decimals exact through all 3 tiers
    assert got_full[10] == "grüß-gott"
    assert bytes(got_full[11]) == b"\x00\xff\x10"
    assert got_full[12] == full[12]
    assert got_full[13] == full[13]


def test_interval_rejected_on_insert(spark):
    # C13: reference input.rs:491-495 rejects INTERVAL columns
    from odbc2parquet_spark.sinks.writeback import (
        UnsupportedInsertType,
        validate_insertable_schema,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("span", T.DayTimeIntervalType()),
        ]
    )
    with pytest.raises(UnsupportedInsertType, match="interval"):
        validate_insertable_schema(schema)
    schema_ym = T.StructType([T.StructField("m", T.YearMonthIntervalType())])
    with pytest.raises(UnsupportedInsertType, match="interval"):
        validate_insertable_schema(schema_ym)


def test_timestamp_writeback_utc_normalized():
    # instant columns must not shift on non-UTC executors: Arrow carries
    # the instant as a UTC epoch value (labelled with the session's zone),
    # and its text is the UTC wall clock whatever the OS zone. The input
    # is noon local time on the executor.
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import datetime;"
        "import pyarrow as pa;"
        "from odbc2parquet_spark.sinks.writeback import column_converter;"
        "from pyspark.sql import types as T;"
        "us = int(datetime.datetime(2024, 6, 1, 12, 0, 0).timestamp()) * 10**6;"
        "col = pa.chunked_array([pa.array([us], pa.timestamp('us', tz='Asia/Tokyo'))]);"
        "print(column_converter(T.TimestampType())(col)[0])"
    )
    env = dict(os.environ, TZ="America/New_York", PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env
    ).stdout.strip()
    # noon EDT == 16:00 UTC
    assert out == "2024-06-01 16:00:00.000000"
    env = dict(os.environ, TZ="UTC", PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, env=env
    ).stdout.strip()
    assert out == "2024-06-01 12:00:00.000000"


def test_high_scale_decimals_insert_as_plain_text(spark, tmp_path):
    """C5 above scale 6, where Arrow's own decimal cast would write
    scientific notation (1.E-10): the text equals format(v, "f")."""
    schema = T.StructType(
        [
            T.StructField("d38", T.DecimalType(38, 10)),
            T.StructField("d20", T.DecimalType(20, 7)),
        ]
    )
    D = decimal.Decimal
    rows = [
        (D("1E-10"), D("1E-7")),
        (D("0"), D("0")),
        (D("-12345.0000000001"), D("-0.0000001")),
        (D("1234567890123456789012345678.0123456789"), D("1234567890123.1234567")),
        (None, None),
    ]
    path = str(tmp_path / "dec.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
    db = str(tmp_path / "dec.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE dec (d38, d20)")
    con.commit()
    con.close()

    assert insert_parquet(spark, path, "dec", connection_factory=_sqlite_factory(db)) == 5
    con = sqlite3.connect(db)
    got = set(con.execute("SELECT d38, d20 FROM dec").fetchall())
    con.close()

    # format(v, "f") of each value at its column's scale
    assert got == {
        ("0.0000000001", "0.0000001"),
        ("0.0000000000", "0.0000000"),
        ("-12345.0000000001", "-0.0000001"),
        ("1234567890123456789012345678.0123456789", "1234567890123.1234567"),
        (None, None),
    }


def test_executemany_arrays_hold_batch_rows(spark, tmp_path):
    """Parameter arrays span Spark's 10,000-row Arrow batches: every
    executemany gets exactly batch_rows rows, except the last."""
    path = str(tmp_path / "ids.parquet")
    spark.range(0, 25_000, 1, 1).write.parquet(path)
    log = str(tmp_path / "calls.txt")

    class RecordingConnection:
        def cursor(self):
            return self

        def executemany(self, statement, rows):
            with open(log, "a") as fh:
                fh.write(f"{len(rows)} {sum(r[0] for r in rows)}\n")

        def commit(self):
            pass

        def close(self):
            pass

    n = insert_parquet(
        spark, path, "ids", connection_factory=RecordingConnection, batch_rows=7_000
    )
    assert n == 25_000
    with open(log) as fh:
        calls = [tuple(map(int, line.split())) for line in fh]
    assert [size for size, _ in calls] == [7_000, 7_000, 7_000, 4_000]
    assert sum(total for _, total in calls) == sum(range(25_000))
