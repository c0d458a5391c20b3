"""Engine query path + parquet sink shaping (reference query subcommand)."""

import os

import pyarrow.parquet as pq
import pytest

from odbc2parquet_spark.engine import Engine
from odbc2parquet_spark.sinks.parquet_sink import (
    SinkOptions,
    path_with_suffix,
    rows_per_batch,
    write_parquet,
)


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    return Engine.for_sf_dir(spark, sf_dir)


def test_query_with_positional_params(engine):
    df = engine.query(
        "SELECT o_orderkey FROM orders WHERE o_totalprice > ? AND o_orderstatus = ?",
        params=[450000.0, "F"],
    )
    rows = df.collect()
    assert len(rows) > 0


def test_single_file_write_roundtrip(engine, tmp_path):
    out = str(tmp_path / "out.par")
    files = engine.query_to_parquet(
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey",
        out,
        sink=SinkOptions(single_file=True),
    )
    assert files == [out]
    t = pq.read_table(out)
    assert t.column_names == ["o_orderkey", "o_totalprice"]
    assert t.num_rows == engine.query("SELECT COUNT(*) c FROM orders").collect()[0].c
    # reference default codec: zstd (enum_args.rs:56-59)
    assert pq.ParquetFile(out).metadata.row_group(0).column(0).compression == "ZSTD"


def test_split_files_with_suffixes(engine, tmp_path):
    out = str(tmp_path / "split.par")
    files = engine.query_to_parquet(
        "SELECT * FROM lineitem",
        out,
        sink=SinkOptions(batch_size_rows=2000, row_groups_per_file=1),
    )
    assert len(files) >= 2
    assert files[0].endswith("split_01.par")
    total = sum(pq.read_table(f).num_rows for f in files)
    assert total == engine.query("SELECT COUNT(*) c FROM lineitem").collect()[0].c


def test_empty_result_schema_only_file(engine, tmp_path):
    out = str(tmp_path / "empty.par")
    files = engine.query_to_parquet(
        "SELECT * FROM orders WHERE o_orderkey < 0", out, sink=SinkOptions(single_file=True)
    )
    t = pq.read_table(files[0])
    assert t.num_rows == 0
    assert "o_orderkey" in t.column_names


def test_no_empty_file_suppresses_output(engine, tmp_path):
    out = str(tmp_path / "none.par")
    files = engine.query_to_parquet(
        "SELECT * FROM orders WHERE o_orderkey < 0",
        out,
        sink=SinkOptions(single_file=True, no_empty_file=True),
    )
    assert files == []
    assert not os.path.exists(out)


def test_directory_mode_default(engine, tmp_path):
    out = str(tmp_path / "dirmode")
    files = engine.query_to_parquet("SELECT * FROM region", out)
    assert files == [out]
    assert os.path.isdir(out)


def test_rows_per_batch_memory_cap():
    # the reference's limit matrix — batch_size_limit.rs:66-107
    opts = SinkOptions(batch_size_rows=100_000, batch_memory_bytes=1000)
    assert rows_per_batch(opts, bytes_per_row=100) == 10  # both -> min
    opts = SinkOptions()  # neither -> both defaults (65535 rows / 2 GiB)
    assert rows_per_batch(opts, bytes_per_row=100) == 65_535
    # memory-only: NO 65,535-row default (main.rs:86-91)
    opts = SinkOptions(batch_memory_bytes=100_000_000)
    assert rows_per_batch(opts, bytes_per_row=100) == 1_000_000
    # rows-only: NO memory default (main.rs:92-99)
    opts = SinkOptions(batch_size_rows=100_000)
    assert rows_per_batch(opts, bytes_per_row=10**9) == 100_000
    # memory limit below one row errors with guidance, not a 1-row batch
    # (batch_size_limit.rs:83-97)
    import pytest

    with pytest.raises(ValueError, match="single row is larger"):
        rows_per_batch(SinkOptions(batch_memory_bytes=10), bytes_per_row=100)


def test_parse_bytesize_si_units():
    # the reference's ByteSize strings (main.rs:97-105): '2Gib', '600Mb'
    from odbc2parquet_spark.sinks.parquet_sink import parse_bytesize

    assert parse_bytesize("2GiB") == 2 * 1024**3
    assert parse_bytesize("2Gib") == 2 * 1024**3  # case-insensitive unit
    assert parse_bytesize("600Mb") == 600 * 1000**2
    assert parse_bytesize("1.5 KiB") == 1536
    assert parse_bytesize("1048576") == 1048576
    assert parse_bytesize(4096) == 4096
    import pytest

    with pytest.raises(ValueError, match="unknown unit"):
        parse_bytesize("2parsecs")
    with pytest.raises(ValueError, match="cannot parse"):
        parse_bytesize("GiB2")


def test_path_with_suffix():
    # parquet_writer.rs:232-250 naming
    assert path_with_suffix("/x/out.par", 3, 2) == "/x/out_03.par"
    assert path_with_suffix("/x/out.par", 12, 4) == "/x/out_0012.par"


def test_stdout_sink_unsupported_documented(engine):
    # A8 (stdout streaming) has no Spark analogue — SURVEY §7 risk register;
    # the sink API takes paths only, so there's nothing to assert beyond
    # the write_parquet contract.
    assert callable(write_parquet)


def test_column_encodings_distributed_sink(spark, tmp_path):
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.range(0, 5000, 1, 3).selectExpr("id", "cast(id as string) as s")
    out = str(tmp_path / "enc")
    files = write_parquet(
        df, out, SinkOptions(column_encodings={"id": "delta-binary-packed"})
    )
    assert len(files) == 3
    rg = pq.ParquetFile(files[0]).metadata.row_group(0)
    by_col = {rg.column(i).path_in_schema: rg.column(i) for i in range(2)}
    assert "DELTA_BINARY_PACKED" in by_col["id"].encodings
    assert by_col["id"].compression == "ZSTD"
    assert "RLE_DICTIONARY" in by_col["s"].encodings  # untouched column
    back = spark.read.parquet(out)
    assert back.count() == 5000
    assert back.selectExpr("sum(id)").first()[0] == sum(range(5000))


def test_column_encodings_validation(spark, tmp_path):
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.range(10)
    with pytest.raises(ValueError, match="unknown column encodings"):
        write_parquet(df, str(tmp_path / "x"), SinkOptions(column_encodings={"id": "bogus"}))
    with pytest.raises(ValueError, match="absent columns"):
        write_parquet(df, str(tmp_path / "y"), SinkOptions(column_encodings={"nope": "rle"}))
    with pytest.raises(ValueError, match="directory mode"):
        write_parquet(
            df,
            str(tmp_path / "z"),
            SinkOptions(single_file=True, column_encodings={"id": "rle"}),
        )


def test_stdin_query(engine, monkeypatch):
    import io

    monkeypatch.setattr("sys.stdin", io.StringIO("SELECT r_regionkey FROM region"))
    assert engine.query("-").count() == 5


def test_zero_column_result_errors(spark):
    from unittest import mock

    from odbc2parquet_spark.engine import Engine, ZeroColumnError

    eng = Engine(spark)
    empty_cols = spark.range(3).select()
    with mock.patch.object(spark, "sql", return_value=empty_cols):
        with pytest.raises(ZeroColumnError):
            eng.query("SELECT whatever")


def test_dir_as_output_errors(engine, tmp_path):
    target = tmp_path / "already_dir.par"
    target.mkdir()
    with pytest.raises(ValueError, match="existing directory"):
        engine.query_to_parquet(
            "SELECT r_regionkey FROM region", str(target), sink=SinkOptions(single_file=True)
        )


def test_column_length_limit_errors_by_default(spark):
    # B13: the reference fails loudly with the column name and remediation
    # hint when a value exceeds the limit (conversion_strategy.rs:176-197)
    from pyspark.sql import functions as F

    from odbc2parquet_spark.mappings import MappingOptions, SourceType, map_source_type

    m = map_source_type(
        SourceType(kind="varchar", length=100),
        MappingOptions(column_length_limit=4),
        column_name="t",
    )
    df = spark.createDataFrame([("abcdefgh",)], ["t"]).select(m.apply(F.col("t")).alias("t"))
    with pytest.raises(Exception, match="maximum element length.*'t'"):
        df.collect()
    # values within the limit pass through untouched
    ok = spark.createDataFrame([("abc",)], ["t"]).select(
        map_source_type(
            SourceType(kind="varchar"),
            MappingOptions(column_length_limit=4),
            column_name="t",
        ).apply(F.col("t")).alias("t")
    )
    assert ok.first().t == "abc"


def test_column_length_limit_truncates_on_opt_in(spark):
    from pyspark.sql import functions as F

    from odbc2parquet_spark.mappings import MappingOptions, SourceType, map_source_type

    m = map_source_type(
        SourceType(kind="varchar", length=100),
        MappingOptions(column_length_limit=4, length_limit_action="truncate"),
    )
    df = spark.createDataFrame([("abcdefgh",)], ["t"]).select(m.apply(F.col("t")).alias("t"))
    assert df.first().t == "abcd"


def test_partition_by_hive_layout(spark, sf_dir, tmp_path):
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = str(tmp_path / "parts")
    write_parquet(df, out, SinkOptions(partition_by=("o_orderstatus",)))
    subdirs = {d for d in os.listdir(out) if d.startswith("o_orderstatus=")}
    assert {"o_orderstatus=O", "o_orderstatus=F"} <= subdirs
    back = spark.read.parquet(out)
    assert back.count() == df.count()
    # partition pruning: a filter on the partition column scans one subdir
    plan = back.filter("o_orderstatus = 'F'")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan


def test_cluster_by_disjoint_file_stats(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    out = str(tmp_path / "clustered")
    write_parquet(df, out, SinkOptions(cluster_by=("o_orderkey",), cluster_partitions=4))
    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, f)).metadata
        idx = md.schema.names.index("o_orderkey")
        lo = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    assert len(ranges) >= 2
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert lo_next > hi_prev  # disjoint -> stats-based file skipping works


def test_zorder_layout_narrows_both_dimensions(spark, tmp_path):
    """Z-order contract: per-file min/max ranges are narrow in BOTH keys
    (a single-key range cluster leaves the second dimension full-width in
    every file, so two-predicate skipping can't prune)."""
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql import functions as F

    from odbc2parquet_spark.sinks.parquet_sink import write_zordered

    n = 1 << 14
    df = spark.range(n).select(
        (F.col("id") % 128).alias("x"),
        (F.floor(F.col("id") / 128)).alias("y"),
    )
    out = str(tmp_path / "z")
    write_zordered(df, out, ("x", "y"), num_files=16)

    def avg_span(col_idx):
        spans = []
        for f in _glob.glob(out + "/*.parquet"):
            md = _pq.ParquetFile(f).metadata
            lo = min(md.row_group(i).column(col_idx).statistics.min for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(col_idx).statistics.max for i in range(md.num_row_groups))
            spans.append(hi - lo)
        return sum(spans) / len(spans)

    # global span of each dim is 127; z-ordered files must average well
    # under half of it in BOTH dims simultaneously
    assert avg_span(0) < 64, f"x span {avg_span(0)}"
    assert avg_span(1) < 64, f"y span {avg_span(1)}"
    # and the data survives intact
    assert spark.read.parquet(out).count() == n


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    from pyspark.sql import functions as F

    from odbc2parquet_spark.sinks.parquet_sink import compact_parquet

    out = str(tmp_path / "frag")
    # simulate a fragmented ingest: 32 tiny files
    spark.range(50_000).select("id", (F.col("id") % 7).alias("v")).repartition(
        32
    ).write.parquet(out)
    before, after = compact_parquet(spark, out, target_file_bytes=64 * 1024 * 1024)
    assert before == 32 and after <= 2
    df = spark.read.parquet(out)
    assert df.count() == 50_000
    assert df.agg({"v": "sum"}).collect()[0][0] == sum(i % 7 for i in range(50_000))


def test_schema_evolution_merge(spark, tmp_path):
    """Batches written with evolving schemas read back as one unified
    relation (mergeSchema) — the additive-column evolution every
    long-lived ingest dataset goes through."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    spark.range(10).select("id", F.lit("a").alias("source")).write.parquet(
        out + "/batch=1"
    )
    spark.range(10, 20).select(
        "id", F.lit("b").alias("source"), F.lit(0.5).alias("quality")
    ).write.parquet(out + "/batch=2")
    df = spark.read.option("mergeSchema", "true").option(
        "basePath", out
    ).parquet(out + "/batch=1", out + "/batch=2")
    assert set(df.columns) >= {"id", "source", "quality"}
    rows = {r["id"]: r for r in df.collect()}
    assert rows[5]["quality"] is None      # old rows: new column null-filled
    assert rows[15]["quality"] == 0.5
    assert df.count() == 20


def test_compact_parquet_recovers_from_crashed_swap(spark, tmp_path):
    """A run that died between the two swap renames leaves only the
    backup directory; the next invocation must restore it and proceed."""
    import os

    from odbc2parquet_spark.sinks.parquet_sink import compact_parquet

    out = str(tmp_path / "tbl")
    spark.range(1000).repartition(8).write.parquet(out)
    # simulate the crash window: table renamed aside, staging never landed
    os.rename(out, out + "_compact_old")
    before, after = compact_parquet(spark, out, target_file_bytes=1 << 30)
    assert before == 8 and after == 1
    assert spark.read.parquet(out).count() == 1000
    assert not os.path.exists(out + "_compact_old")


def test_compression_level_changes_bytes_spark_path(spark, tmp_path):
    """--column-compression-level-default parity (reference
    src/main.rs:160-168): the level must actually reach the codec — the
    same data written at zstd level 1 vs 19 produces different bytes,
    with 19 no larger."""
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.range(100_000).selectExpr(
        "id", "md5(cast(id % 2000 as string)) as s"
    )
    sizes = {}
    for lvl in (1, 19):
        out = str(tmp_path / f"lvl{lvl}.par")
        write_parquet(df, out, SinkOptions(single_file=True, compression_level=lvl))
        assert pq.ParquetFile(out).metadata.row_group(0).column(0).compression == "ZSTD"
        sizes[lvl] = os.path.getsize(out)
    assert sizes[1] != sizes[19]
    assert sizes[19] <= sizes[1]


def test_compression_level_pyarrow_sink_and_validation(spark, tmp_path):
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.range(0, 50_000, 1, 2).selectExpr(
        "id", "md5(cast(id % 1000 as string)) as s"
    )
    sizes = {}
    for lvl in (1, 9):
        out = str(tmp_path / f"gz{lvl}")
        files = write_parquet(
            df,
            out,
            SinkOptions(
                compression="gzip",
                compression_level=lvl,
                column_encodings={"id": "delta-binary-packed"},
            ),
        )
        assert pq.ParquetFile(files[0]).metadata.row_group(0).column(0).compression == "GZIP"
        sizes[lvl] = sum(os.path.getsize(f) for f in files)
    assert sizes[1] != sizes[9] and sizes[9] <= sizes[1]

    # gzip has no level knob on the Spark writer path -> loud error
    with pytest.raises(ValueError, match="not supported for codec 'gzip'"):
        write_parquet(
            df,
            str(tmp_path / "bad.par"),
            SinkOptions(compression="gzip", compression_level=5, single_file=True),
        )


def test_time_columns_write_real_parquet_time_type(spark, tmp_path):
    """B7 nice-to-have from the SURVEY risk register: the pyarrow sink can
    annotate int-since-midnight columns with a REAL Parquet TIME logical
    type (reference time.rs:19-78), so external readers see TIME, not
    bare ints."""
    import datetime

    df = spark.range(0, 1000, 1, 2).selectExpr(
        "id",
        "cast((id * 37) % 86400000 as int) as t_ms",
        "cast((id * 91) % 86400000000 as long) as t_us",
    )
    out = str(tmp_path / "times")
    files = write_parquet(
        df, out, SinkOptions(time_columns={"t_ms": "ms", "t_us": "us"})
    )
    schema = pq.ParquetFile(files[0]).schema_arrow
    import pyarrow as pa

    assert schema.field("t_ms").type == pa.time32("ms")
    assert schema.field("t_us").type == pa.time64("us")
    assert schema.field("id").type == pa.int64()
    # values survive: 61_000 ms -> 00:01:01
    t = pq.read_table(out).to_pylist()
    by_id = {r["id"]: r for r in t}
    assert by_id[0]["t_ms"] == datetime.time(0, 0)
    ms = (123 * 37) % 86400000
    assert by_id[123]["t_ms"] == datetime.time(
        ms // 3600000, ms % 3600000 // 60000, ms % 60000 // 1000, ms % 1000 * 1000
    )


def test_time_columns_validation(spark, tmp_path):
    df = spark.range(5).selectExpr("id", "cast(id as int) as t")
    with pytest.raises(ValueError, match="units must be ms/us/ns"):
        write_parquet(df, str(tmp_path / "a"), SinkOptions(time_columns={"t": "sec"}))
    with pytest.raises(ValueError, match="absent columns"):
        write_parquet(df, str(tmp_path / "b"), SinkOptions(time_columns={"zzz": "ms"}))
    with pytest.raises(ValueError, match="directory mode"):
        write_parquet(
            df,
            str(tmp_path / "c.par"),
            SinkOptions(time_columns={"t": "ms"}, single_file=True),
        )


def test_stdout_single_pass_streaming(spark):
    """A8 single-pass: rows stream through a driver-side pyarrow writer
    straight into the pipe — one row group per reference-sized batch, no
    temp file (tempfile is stubbed to prove it's never touched)."""
    import io
    import tempfile

    import pyarrow as pa

    from odbc2parquet_spark.sinks.parquet_sink import write_parquet_stdout

    df = spark.range(0, 1000, 1, 3).selectExpr(
        "id",
        "cast(id as string) as s",
        "cast(id as decimal(12,2)) as d",
        "timestamp'2024-01-02 03:04:05' + make_interval(0,0,0,0,0,0,id) as ts",
        "case when id % 7 = 0 then null else id * 0.5 end as v",
    )
    buf = io.BytesIO()
    real_tmp = tempfile.TemporaryDirectory

    def forbidden(*a, **k):
        raise AssertionError("stdout sink must not create a temp file")

    tempfile.TemporaryDirectory = forbidden
    try:
        n = write_parquet_stdout(
            df, SinkOptions(batch_size_rows=100), out=buf
        )
    finally:
        tempfile.TemporaryDirectory = real_tmp
    data = buf.getvalue()
    assert n == len(data) > 0
    pf = pq.ParquetFile(pa.BufferReader(data))
    assert pf.metadata.num_rows == 1000
    assert pf.metadata.num_row_groups >= 10  # one group per 100-row batch
    t = pf.read()
    assert t.column_names == ["id", "s", "d", "ts", "v"]
    assert sorted(t.column("id").to_pylist()) == list(range(1000))
    back = {r["id"]: r for r in t.to_pylist()}
    assert str(back[3]["d"]) == "3.00" and back[7]["v"] is None
    assert back[0]["ts"].isoformat().startswith("2024-01-02T03:04:05")


def test_stdout_empty_schema_only_and_suppressed(spark):
    import io

    import pyarrow as pa

    from odbc2parquet_spark.sinks.parquet_sink import write_parquet_stdout

    empty = spark.range(0).selectExpr("id", "cast(id as string) as s")
    buf = io.BytesIO()
    n = write_parquet_stdout(empty, SinkOptions(), out=buf)
    pf = pq.ParquetFile(pa.BufferReader(buf.getvalue()))
    assert n > 0 and pf.metadata.num_rows == 0  # schema-only file
    assert pf.schema_arrow.names == ["id", "s"]
    assert write_parquet_stdout(empty, SinkOptions(no_empty_file=True), out=io.BytesIO()) == 0


def test_stdout_no_empty_file_runs_plan_once(spark, tmp_path):
    """no_empty_file needs no emptiness pre-pass: each source partition is
    computed once, for a non-empty result and for an empty one. Every
    evaluation leaves a marker file; an accumulator would miss the
    evaluation a limit(1) probe stops early, as its task never reports."""
    import io
    import uuid

    from odbc2parquet_spark.sinks.parquet_sink import write_parquet_stdout

    marks = tmp_path / "marks"
    marks.mkdir()

    def mark(it):
        (marks / uuid.uuid4().hex).touch()
        return it

    base = spark.range(0, 300, 1, 3)
    counted = base.rdd.mapPartitions(mark).toDF(base.schema)
    buf = io.BytesIO()
    n = write_parquet_stdout(counted, SinkOptions(no_empty_file=True), out=buf)
    assert n == len(buf.getvalue()) > 0
    assert pq.read_table(io.BytesIO(buf.getvalue())).num_rows == 300
    assert len(list(marks.iterdir())) == 3

    buf = io.BytesIO()
    empty = counted.where("id < 0")
    assert write_parquet_stdout(empty, SinkOptions(no_empty_file=True), out=buf) == 0
    assert buf.getvalue() == b""
    assert len(list(marks.iterdir())) == 6


@pytest.mark.parametrize("batch_rows, rows", [(100, 1_050), (65_535, 150_000)])
def test_stdout_row_groups_hold_batch_rows(spark, batch_rows, rows):
    """Row groups span partitions and Spark's Arrow batches: each holds
    exactly batch_rows rows except the last, ceil(rows / batch_rows) in all."""
    import io
    import math

    from odbc2parquet_spark.sinks.parquet_sink import write_parquet_stdout

    buf = io.BytesIO()
    write_parquet_stdout(
        spark.range(0, rows, 1, 3), SinkOptions(batch_size_rows=batch_rows), out=buf
    )
    md = pq.ParquetFile(io.BytesIO(buf.getvalue())).metadata
    sizes = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert len(sizes) == math.ceil(rows / batch_rows)
    assert set(sizes[:-1]) <= {batch_rows} and sum(sizes) == rows


def test_stdout_keeps_order_by_across_partitions(spark):
    import io

    from odbc2parquet_spark.sinks.parquet_sink import write_parquet_stdout

    conf = {
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "4",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        df = spark.sql(
            "SELECT id, (id * 7919) % 5000 AS k FROM range(0, 5000, 1, 3) "
            "ORDER BY k DESC"
        )
        assert df.rdd.getNumPartitions() > 1
        buf = io.BytesIO()
        write_parquet_stdout(df, SinkOptions(batch_size_rows=700), out=buf)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    got = pq.read_table(io.BytesIO(buf.getvalue())).column("k").to_pylist()
    assert got == sorted(range(5000), reverse=True)


def test_length_limited_threshold_export_writes_once(engine, tmp_path, monkeypatch):
    """The bytes-per-row estimate counts the mapping's column_length_limit,
    not the 4,096 default: a threshold the estimated result fits needs one
    Spark write (the default estimate over-splits, then rewrites)."""
    from pyspark.sql.readwriter import DataFrameWriter

    from odbc2parquet_spark.mappings import MappingOptions

    writes = []
    spark_write = DataFrameWriter.parquet

    def counting(self, path, *args, **kwargs):
        writes.append(path)
        return spark_write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting)
    out = str(tmp_path / "limited.par")
    produced = engine.query_to_parquet(
        "SELECT l_orderkey, l_returnflag, l_linestatus FROM lineitem",
        out,
        sink=SinkOptions(file_size_threshold=1024 * 1024),
        mapping=MappingOptions(column_length_limit=16),
    )
    assert len(writes) == 1
    assert [os.path.basename(p) for p in produced] == ["limited_01.par"]


def test_file_mode_removes_stale_generations(spark, tmp_path):
    """Re-exporting a SMALLER result over the same stem must not leave
    higher-numbered survivors of the previous run (out_03.par from
    yesterday next to today's out_01/02)."""
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    out = str(tmp_path / "out.par")
    big = spark.range(0, 300, 1, 1)
    first = write_parquet(
        big, out, SinkOptions(batch_size_rows=100, row_groups_per_file=1)
    )
    assert len(first) == 3
    small = spark.range(0, 200, 1, 1)
    second = write_parquet(
        small, out, SinkOptions(batch_size_rows=100, row_groups_per_file=1)
    )
    assert len(second) == 2
    import glob as g

    survivors = sorted(g.glob(str(tmp_path / "out*.par")))
    assert survivors == sorted(second)
    total = sum(pq.ParquetFile(p).metadata.num_rows for p in survivors)
    assert total == 200
    # and single-file over parts cleans up too
    third = write_parquet(small, out, SinkOptions(single_file=True))
    survivors = sorted(g.glob(str(tmp_path / "out*.par")))
    assert survivors == [out] == third


@pytest.mark.slow
def test_file_size_threshold_true_sizes(spark, tmp_path):
    """Size-based splitting measures REAL written bytes: highly
    compressible text (schema estimate off several-fold) still lands
    every part within 2x of file_size_threshold."""
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    # 20k rows of ~192-char semi-compressible hex text: the schema
    # estimate (~4 KB/row for the string column) would split into
    # thousands of ~1 KB files; measuring real bytes must converge to
    # files that FILL the cap
    df = spark.range(0, 20000, 1, 1).selectExpr(
        "id", "concat(md5(cast(id as string)), md5(cast(id+1 as string)), "
        "md5(cast(id+2 as string)), md5(cast(id+3 as string)), "
        "md5(cast(id+4 as string)), md5(cast(id+5 as string))) as txt"
    )
    threshold = 64 * 1024
    out = str(tmp_path / "sized.par")
    files = write_parquet(df, out, SinkOptions(file_size_threshold=threshold))
    sizes = {f: os.path.getsize(f) for f in files}
    assert all(s <= threshold for s in sizes.values()), sizes
    # no pathological over-split: the biggest file fills >= half the cap
    assert max(sizes.values()) >= threshold // 2, sizes
    total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    assert total == 20000


@pytest.mark.slow
def test_file_size_threshold_extreme_compression_converges(spark, tmp_path):
    """~100x-compressible text: the iterative measure converges to few
    well-filled files (not thousands of footer-dominated 1 KB parts) and
    never exceeds the cap."""
    from odbc2parquet_spark.sinks.parquet_sink import write_parquet

    df = spark.range(0, 20000, 1, 1).selectExpr(
        "id", "repeat('abcdefgh', 25) as txt"
    )
    threshold = 64 * 1024
    files = write_parquet(
        df, str(tmp_path / "zz.par"), SinkOptions(file_size_threshold=threshold)
    )
    sizes = [os.path.getsize(f) for f in files]
    assert all(s <= threshold for s in sizes)
    assert len(files) <= 4  # whole result compresses to well under 4 caps
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == 20000


def test_stdout_instants_match_spark_writer(spark, tmp_path):
    """TimestampType (instant) values through the single-pass stdout sink
    must equal what Spark's own parquet writer stores: toLocalIterator
    hands the driver OS-LOCAL naive datetimes, and without normalization
    the Arrow tz=UTC field would shift every instant by the host's UTC
    offset (zero on a UTC host — the comparison still pins the code
    path)."""
    import io

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from odbc2parquet_spark.sinks.parquet_sink import SinkOptions, write_parquet_stdout

    df = spark.sql(
        "SELECT id, timestamp'2024-01-02 03:04:05.123456' + make_interval(0,0,0,0,0,0,id) AS ts"
        " FROM range(5)"
    ).select("id", F.col("ts").cast("timestamp"))

    import datetime

    def utc_wall(values):
        # normalize reader representations (naive pandas Timestamp vs
        # tz-aware datetime) to plain UTC wall-clock datetimes
        out = []
        for v in values:
            v = v.to_pydatetime() if hasattr(v, "to_pydatetime") else v
            if v.tzinfo is not None:
                v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            out.append(v)
        return sorted(out)

    ref_path = str(tmp_path / "ref")
    df.write.parquet(ref_path)
    want = utc_wall(pq.read_table(ref_path).column("ts").to_pylist())

    buf = io.BytesIO()
    write_parquet_stdout(df, SinkOptions(), out=buf)
    buf.seek(0)
    got = utc_wall(pq.read_table(buf).column("ts").to_pylist())
    assert got == want


def test_resplit_reads_staged_bytes_not_source(spark, tmp_path):
    """The size-threshold refinement loop must not re-execute the source
    plan: an accumulator counts source evaluations — exactly one compute
    pass regardless of how many rewrites the threshold needs."""
    from pyspark.sql import functions as F

    from odbc2parquet_spark.sinks.parquet_sink import SinkOptions, write_parquet

    acc = spark.sparkContext.accumulator(0)

    def bump(it):
        acc.add(1)
        return it

    base = spark.range(20_000).select(
        F.col("id"), F.repeat(F.lit("zz"), 200).alias("pad")
    )
    counted = base.rdd.mapPartitions(bump).toDF(base.schema)
    out = str(tmp_path / "counted.par")
    produced = write_parquet(
        counted, out, SinkOptions(file_size_threshold=64 * 1024)
    )
    assert produced
    first_pass = acc.value
    assert first_pass > 0
    # any refinement rewrites must have read staged parquet, not the rdd
    assert acc.value == first_pass


def test_audit_output_reconciles_row_counts(spark, tmp_path):
    """Footer-only audit equals the source count in both directory and
    split-file modes — the post-write reconciliation gate."""
    from odbc2parquet_spark.sinks.parquet_sink import (
        SinkOptions,
        audit_output,
        write_parquet,
    )

    df = spark.range(0, 10_000).selectExpr("id", "CAST(id % 7 AS STRING) AS s")
    out_dir = str(tmp_path / "plain")
    paths = write_parquet(df, out_dir)
    a = audit_output(paths)
    assert a["n_rows"] == 10_000
    assert a["n_files"] >= 1 and a["n_row_groups"] >= a["n_files"]
    assert a["total_bytes"] > 0

    split = str(tmp_path / "split.par")
    paths2 = write_parquet(
        df, split, SinkOptions(batch_size_rows=2000, row_groups_per_file=2)
    )
    a2 = audit_output(paths2)
    assert a2["n_rows"] == 10_000
    assert a2["n_files"] == len(paths2) > 1
