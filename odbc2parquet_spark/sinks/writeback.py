"""Write-back path: Parquet -> relational store (the reference's ``insert``
and ``exec`` subcommands).

Reference semantics reproduced:

- ``insert``: read a parquet file, generate ``INSERT INTO t (cols) VALUES
  (?, ...)`` from its column names, bulk-execute in columnar batches
  (reference src/insert.rs:14-66, src/input.rs:43-88). Identifiers are
  quoted here — the reference interpolates unquoted names and documents the
  injection risk (src/main.rs:258-261); SURVEY §2.3 says do better.
- ``exec``: arbitrary statement with named ``?col?`` placeholders, each
  bound to a parquet column; one column may feed several placeholders
  (reference src/execute.rs:12-52, tests/integration.rs:3882).
- Unsupported-type errors for non-primitive columns, mirroring
  "only able to insert primitive types" (src/input.rs:187-193).
- Value conversion per the reference's C-matrix (src/input.rs:181-502):
  decimals travel as decimal TEXT (C5), timestamps as timestamp structs
  (C8 — ISO text for DBAPI, instants as UTC wall clock). Conversion is
  columnar: one converter per column, picked once from the schema,
  applied to whole Arrow columns. TIME columns (C3/C7) never reach this
  path: Spark rejects parquet TIME on read.

Spark-first execution: two backends.

- JDBC backend: ``df.write.format("jdbc").mode("append")`` — Spark's own
  batched writer, one connection per partition. The idiomatic cluster
  path; needs a JDBC driver jar (absent in this container, so gated).
- DBAPI backend: ``mapInArrow`` + any PEP-249 connection factory +
  ``executemany`` batches. Each task regroups Spark's Arrow record
  batches into ``batch_rows``-row parameter arrays, so this is the
  reference's columnar bulk inserter (one statement prepared once, param
  arrays per batch). It runs against sqlite in tests and scales the same
  way the JDBC path does: N partitions -> N parallel writers; the driver
  receives only one row count per partition.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from odbc2parquet_spark.params import PlaceholderError, quote_identifier, to_positional
from odbc2parquet_spark.sinks.parquet_sink import rebatch

#: rows per executemany call — the reference's default bulk batch
#: (src/query/batch_size_limit.rs:6-15).
DEFAULT_WRITE_BATCH_ROWS = 65_535


class UnsupportedInsertType(TypeError):
    """Mirror of the reference's unsupported-type errors (input.rs:187-495)."""


_INTERVAL_TYPES = (T.DayTimeIntervalType, T.YearMonthIntervalType)


def validate_insertable_schema(schema: T.StructType) -> None:
    for f in schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            raise UnsupportedInsertType(
                f"column {f.name!r}: only able to insert primitive types, "
                f"got {f.dataType.simpleString()}"
            )
        if isinstance(f.dataType, _INTERVAL_TYPES):
            # input.rs:491-495: interval columns are rejected on insert
            raise UnsupportedInsertType(
                f"column {f.name!r}: inserting interval types is not "
                f"supported ({f.dataType.simpleString()})"
            )


def generate_insert_statement(table: str, columns: Sequence[str]) -> str:
    """``INSERT INTO t (a, b) VALUES (?, ?)`` — quoted identifiers
    (reference insert.rs:55-66 generates the same shape unquoted)."""
    cols = ", ".join(quote_identifier(c) for c in columns)
    marks = ", ".join("?" for _ in columns)
    return f"INSERT INTO {quote_identifier(table)} ({cols}) VALUES ({marks})"


def _values(col: pa.ChunkedArray) -> list:
    return col.to_pylist()


def _text(col: pa.ChunkedArray) -> list:
    return col.cast(pa.string()).to_pylist()


def _decimal_text(col: pa.ChunkedArray) -> list:
    return [None if v is None else format(v, "f") for v in col.to_pylist()]


def _instant_text(col: pa.ChunkedArray) -> list:
    # Arrow carries instants as UTC epoch values whatever the executor's OS
    # zone; dropping the zone label keeps those values, so the text is the
    # UTC wall clock.
    return _text(col.cast(pa.timestamp("us")))


def column_converter(dt: T.DataType) -> Callable[[pa.ChunkedArray], list]:
    """Arrow column -> DBAPI parameter values, per the reference's C-matrix
    (src/input.rs:181-502). Chosen once per column from the Spark type."""
    if isinstance(dt, T.DecimalType):
        # C5: decimals are bound as decimal text equal to format(v, "f")
        # (input.rs:795-823). Arrow's cast matches that up to scale 6;
        # above, it switches to scientific notation (1.E-10).
        return _text if dt.scale <= 6 else _decimal_text
    if isinstance(dt, T.TimestampType):
        # C8: instant columns as UTC wall-clock ISO text
        return _instant_text
    if isinstance(dt, (T.TimestampNTZType, T.DateType)):
        # wall-clock and date columns: ISO text as is
        return _text
    return _values


def _executemany_batches(
    batches,
    statement: str,
    converters: list[Callable[[pa.ChunkedArray], list]],
    col_positions: list[int],
    connection_factory: Callable,
    batch_rows: int,
):
    """Runs on executors (``mapInArrow``): one connection per partition,
    Spark's Arrow batches regrouped into ``batch_rows``-row parameter
    arrays, one ``executemany`` each. Yields the partition's row count.

    ``col_positions[i]`` is the column feeding parameter i (identity for
    insert; the named-placeholder mapping for exec — one column may feed
    several parameter positions, reference input.rs:126-167). Each column
    is converted once per batch, however many parameters it feeds.
    """
    conn = connection_factory()
    n = 0
    try:
        cur = conn.cursor()
        for table in rebatch(batches, batch_rows):
            values = {p: converters[p](table.column(p)) for p in set(col_positions)}
            if col_positions:
                params = list(zip(*(values[p] for p in col_positions)))
            else:
                params = [()] * table.num_rows
            cur.executemany(statement, params)
            n += table.num_rows
        conn.commit()
    finally:
        conn.close()
    yield pa.RecordBatch.from_pydict({"rows": pa.array([n], pa.int64())})


def _write_dbapi(
    df: DataFrame,
    statement: str,
    col_positions: list[int],
    connection_factory: Callable,
    batch_rows: int,
) -> int:
    """Bulk-execute ``statement`` once per row of ``df``; returns the row
    count, which rides the write pass (one scan total)."""
    converters = [column_converter(f.dataType) for f in df.schema.fields]
    counts = df.mapInArrow(
        lambda batches: _executemany_batches(
            batches, statement, converters, col_positions, connection_factory, batch_rows
        ),
        "rows long",
    ).collect()
    return sum(r.rows for r in counts)


def insert_parquet(
    spark: SparkSession,
    parquet_path: str,
    table: str,
    *,
    connection_factory: Callable | None = None,
    jdbc_url: str | None = None,
    jdbc_options: dict | None = None,
    batch_rows: int = DEFAULT_WRITE_BATCH_ROWS,
) -> int:
    """The ``insert`` subcommand: parquet file -> bulk INSERT.

    Returns the number of rows written. Exactly one backend must be given:
    ``jdbc_url`` (Spark JDBC writer) or ``connection_factory`` (PEP-249).
    """
    df = spark.read.parquet(parquet_path)
    validate_insertable_schema(df.schema)
    if jdbc_url is not None:
        # parquet count() is footer-metadata only — no data scan
        n = df.count()
        (
            df.write.format("jdbc")
            .mode("append")
            .option("url", jdbc_url)
            .option("dbtable", table)
            .option("batchsize", batch_rows)
            .options(**(jdbc_options or {}))
            .save()
        )
        return n
    if connection_factory is None:
        raise ValueError("need jdbc_url or connection_factory")
    statement = generate_insert_statement(table, df.columns)
    positions = list(range(len(df.columns)))
    return _write_dbapi(df, statement, positions, connection_factory, batch_rows)


def execute_parquet(
    spark: SparkSession,
    parquet_path: str,
    statement: str,
    *,
    connection_factory: Callable,
    batch_rows: int = DEFAULT_WRITE_BATCH_ROWS,
) -> int:
    """The ``exec`` subcommand: named ``?col?`` placeholders bound to
    parquet columns, statement executed once per row in bulk batches."""
    positional, names = to_positional(statement)
    df = spark.read.parquet(parquet_path)
    validate_insertable_schema(df.schema)
    col_index = {c: i for i, c in enumerate(df.columns)}
    missing = [n for n in names if n not in col_index]
    if missing:
        raise PlaceholderError(
            f"placeholder column(s) not in parquet file: {', '.join(missing)}"
        )
    positions = [col_index[n] for n in names]
    return _write_dbapi(df, positional, positions, connection_factory, batch_rows)
