"""The query engine: SQL + params -> DataFrame -> shaped parquet.

The reference's ``query`` subcommand lifecycle (SURVEY §3.1, reference
src/query.rs:35-113) maps here as:

- SQL text verbatim, optional positional ``?`` params
  -> ``spark.sql(query, args=...)`` (Catalyst plans it; the reference ships
  the text to a remote DBMS instead — src/query.rs:90-91).
- schema inference from cursor metadata (conversion_strategy.rs:30-88)
  -> Catalyst's analyzed schema; generated ``Column{i}`` names for unnamed
  columns and the zero-column error are reproduced below.
- fetch/convert/write loop -> ``write_parquet`` (sinks/parquet_sink.py);
  Spark's task pipeline replaces the double-buffered fetch thread
  (fetch_batch.rs:93-152) and parallelizes it across the cluster.

``Engine.query`` is intentionally thin: the plan stays declarative so
Catalyst applies pushdown/pruning/join-selection; nothing here collects to
the driver.
"""

from __future__ import annotations

import sys
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from odbc2parquet_spark.catalog import register_tables
from odbc2parquet_spark.mappings import MappingOptions, apply_mapping_options
from odbc2parquet_spark.sinks.parquet_sink import SinkOptions, write_parquet


class ZeroColumnError(ValueError):
    """Query returned no columns (conversion_strategy.rs:69-71)."""


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = spark

    @classmethod
    def for_sf_dir(cls, spark: SparkSession, sf_dir: str) -> "Engine":
        """Engine over the testdata tables registered as views."""
        register_tables(spark, sf_dir)
        return cls(spark)

    def query(self, sql: str, params: Sequence | None = None) -> DataFrame:
        """Execute SQL with optional positional ``?`` parameters.

        ``sql == "-"`` reads the query text from stdin, like the reference
        (src/query.rs:118-126).
        """
        if sql == "-":
            sql = sys.stdin.read()
        if params:
            df = self.spark.sql(sql, args=list(params))
        else:
            df = self.spark.sql(sql)
        if len(df.schema.fields) == 0:
            raise ZeroColumnError("query returned a zero-column result set")
        return self._normalize_names(df)

    @staticmethod
    def _normalize_names(df: DataFrame) -> DataFrame:
        """Unnamed/empty column names -> ``Column{i}``.

        The reference generates names for columns the driver reports as
        unnamed (conversion_strategy.rs:52-56). Spark rarely produces empty
        names, but expression columns keep their expression text; only empty
        names are rewritten so user aliases pass through untouched.
        """
        names = df.columns
        fixed = [n if n and n.strip() else f"Column{i + 1}" for i, n in enumerate(names)]
        if fixed != names:
            df = df.toDF(*fixed)
        return df

    def query_to_parquet(
        self,
        sql: str,
        out_path: str,
        params: Sequence | None = None,
        sink: SinkOptions | None = None,
        mapping: MappingOptions | None = None,
    ) -> list[str]:
        """The full ``query`` subcommand analogue: SQL -> shaped parquet.

        ``mapping`` applies the reference's type-mapping switches
        (--avoid-decimal / --prefer-varbinary / --column-length-limit) to
        the result schema before writing — declarative casts, so Catalyst
        still prunes and pushes down beneath them. Its length limit also
        sizes the sink's bytes-per-row estimate.
        """
        df = self.query(sql, params)
        limit = None
        if mapping is not None:
            df = apply_mapping_options(df, mapping)
            limit = mapping.column_length_limit
        return write_parquet(df, out_path, sink, limit)
