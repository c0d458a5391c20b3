"""Parquet sink with the reference's output-shaping semantics.

Reference behaviors reproduced (cites into /root/reference):

- compression default zstd, configurable codec+level
  (src/enum_args.rs:34-70, src/main.rs:159-168).
- batch/row-group sizing: rows-per-batch = min(row cap, memory cap /
  bytes-per-row), defaults 65535 rows / 2 GiB (src/query/batch_size_limit.rs).
  Spark analogue: ``maxRecordsPerFile`` + parquet block size; the
  bytes-per-row estimate reuses the same schema-derived arithmetic.
- file splitting with numeric suffixes ``out_01.par, out_02.par, ...``,
  configurable suffix width, roll on N row groups and/or byte threshold
  (src/query/batch_size_limit.rs:18-55, src/query/parquet_writer.rs:149-189,
  path_with_suffix :232-250). Distributed writes can't name files mid-flight,
  so the exact naming is a deterministic driver-side rename pass after the
  parallel write — planning unaffected.
- ``--no-empty-file``: suppress output entirely for empty results; default
  writes a schema-only file (src/query/parquet_writer.rs:117-121,155-158).
- crash-safety: Spark's FileOutputCommitter writes to ``_temporary`` and
  commits on success — the built-in equivalent of the reference's
  tempfile-until-finalized CurrentFile (src/query/current_file.rs:14-80).
- column statistics stay on (parquet-mr default), matching
  tests/integration.rs:3990.

Scale note: "directory mode" (default) is the 100 TB path — one file per
task, no driver involvement. "file mode" (``single_file`` / split suffixes)
exists for CLI parity on export-sized results only.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from odbc2parquet_spark.mappings import DEFAULT_VAR_LEN, estimate_bytes_per_row

DEFAULT_BATCH_SIZE_ROWS = 65_535  # batch_size_limit.rs:6-15
DEFAULT_BATCH_MEMORY_BYTES = 2 * 1024**3  # 2 GiB


#: reference encoding names (enum_args.rs:72-97) -> pyarrow encoding names
COLUMN_ENCODINGS = {
    "plain": "PLAIN",
    "delta-binary-packed": "DELTA_BINARY_PACKED",
    "delta-byte-array": "DELTA_BYTE_ARRAY",
    "delta-length-byte-array": "DELTA_LENGTH_BYTE_ARRAY",
    "rle": "RLE",
}


#: codecs whose level knob Spark's parquet writer honors, with the
#: parquet-mr property that carries it (write options are merged into the
#: job's hadoop conf by Spark's file sink)
_SPARK_LEVEL_PROPS = {"zstd": "parquet.compression.codec.zstd.level"}
#: codecs pyarrow's ParquetWriter accepts a compression_level for
_PYARROW_LEVEL_CODECS = {"zstd", "gzip", "brotli"}


@dataclass
class SinkOptions:
    compression: str = "zstd"  # reference default (enum_args.rs:56-59)
    #: --column-compression-level-default (reference src/main.rs:160-168;
    #: zstd level 3 is the reference default). None = codec default.
    #: Spark's writer carries the level for zstd via the parquet-mr
    #: property; the pyarrow encodings sink passes it for
    #: zstd/gzip/brotli. Unsupported codec+level combinations raise.
    compression_level: int | None = None
    batch_size_rows: int | None = None  # rows per row-group/file unit
    batch_memory_bytes: int | None = None  # memory cap -> rows via bytes/row
    row_groups_per_file: int = 0  # 0 = no row-group-count splitting
    file_size_threshold: int = 0  # bytes; 0 = no size splitting
    suffix_length: int = 2  # width of _NN suffix (parquet_writer.rs:232-250)
    no_empty_file: bool = False
    single_file: bool = False  # CLI-parity: exactly one .par file
    #: ``{column: encoding}`` with reference encoding names
    #: (``COLUMN:ENCODING`` pairs, enum_args.rs:72-97). Spark's writer can't
    #: set per-column encodings, so this routes through the distributed
    #: pyarrow sink (one file per task via mapInArrow — still no driver
    #: materialization).
    column_encodings: dict[str, str] | None = None
    #: hive-style directory partitioning (directory mode only) — at 100 TB
    #: this is what makes downstream partition pruning possible.
    partition_by: tuple[str, ...] = ()
    #: range-cluster the output on these columns: repartitionByRange +
    #: sortWithinPartitions so each file/row-group carries a DISJOINT
    #: min/max range in its parquet stats — readers filtering on the
    #: cluster column skip whole files (stats-based data skipping).
    cluster_by: tuple[str, ...] = ()
    #: explicit range-partition count for cluster_by (None = let
    #: spark.sql.shuffle.partitions / AQE decide)
    cluster_partitions: int | None = None
    #: ``{column: unit}`` (unit in ms/us/ns): write these int-since-midnight
    #: columns with a REAL Parquet TIME logical type (reference
    #: time.rs:19-78 annotates TIME(p); Spark has no TIME type, so the
    #: mapping's ints lose the annotation on the Spark writer path — the
    #: pyarrow sink restores it by casting the Arrow batches to
    #: time32(ms)/time64(us|ns) before writing). Directory mode only.
    time_columns: dict[str, str] | None = None


def _compression_options(opts: SinkOptions) -> dict[str, str]:
    """Writer options for codec + optional level on the SPARK write path."""
    out = {"compression": opts.compression}
    if opts.compression_level is not None:
        prop = _SPARK_LEVEL_PROPS.get(opts.compression)
        if prop is None:
            raise ValueError(
                f"compression_level is not supported for codec "
                f"{opts.compression!r} on the Spark write path "
                f"(supported: {sorted(_SPARK_LEVEL_PROPS)}; the pyarrow "
                f"encodings sink additionally supports "
                f"{sorted(_PYARROW_LEVEL_CODECS)})"
            )
        out[prop] = str(opts.compression_level)
    return out


def parse_bytesize(value: int | str) -> int:
    """``2GiB`` / ``600Mb`` / ``1048576`` -> bytes.

    The reference's ``--batch-size-memory`` takes SI-unit strings via the
    bytesize crate (main.rs:97-105): binary units (KiB/MiB/GiB/TiB, powers
    of 1024) and decimal units (kB/MB/GB/TB, powers of 1000), unit
    case-insensitive, optional whitespace, fractional numbers allowed.
    A bare integer means bytes.
    """
    if isinstance(value, int):
        return value
    import re as _re

    m = _re.fullmatch(
        r"\s*([0-9]+(?:\.[0-9]+)?)\s*([a-zA-Z]*)\s*", str(value)
    )
    if not m:
        raise ValueError(f"cannot parse byte size {value!r}")
    num, unit = float(m.group(1)), m.group(2).lower()
    scale = {
        "": 1, "b": 1,
        "kb": 1000, "mb": 1000**2, "gb": 1000**3, "tb": 1000**4,
        "kib": 1024, "mib": 1024**2, "gib": 1024**3, "tib": 1024**4,
    }.get(unit)
    if scale is None:
        raise ValueError(f"cannot parse byte size {value!r}: unknown unit {unit!r}")
    return int(num * scale)


def rows_per_batch(opts: SinkOptions, bytes_per_row: int) -> int:
    """Rows per batch under the reference's limit matrix
    (batch_size_limit.rs:66-107):

    - only ``batch_size_rows``  -> that row cap, NO memory limit
    - only ``batch_memory_bytes`` -> memory // bytes-per-row, NO row cap
      (the 65,535-row default applies ONLY when neither limit is given)
    - neither -> both defaults (65,535 rows AND 2 GiB)
    - both -> min of the two

    A memory limit smaller than one row is an error with the reference's
    actionable guidance (batch_size_limit.rs:83-97), not a silent
    1-row batch.
    """
    rows, mem = opts.batch_size_rows, opts.batch_memory_bytes
    if rows is not None and mem is None:
        return max(1, rows)
    if rows is None and mem is None:
        rows, mem = DEFAULT_BATCH_SIZE_ROWS, DEFAULT_BATCH_MEMORY_BYTES
    mem_cap = mem // max(bytes_per_row, 1)
    if mem_cap == 0:
        raise ValueError(
            f"Memory required to hold a single row is larger than the "
            f"limit. Memory Limit: {mem} bytes, Memory per row: "
            f"{bytes_per_row} bytes.\nYou can use either '--batch-size-row' "
            f"or '--batch-size-memory' to raise the limit. You may also "
            f"apply an upper size limit to expected values in variadic "
            f"columns using '--column-length-limit'."
        )
    return mem_cap if rows is None else max(1, min(rows, mem_cap))


def path_with_suffix(path: str, index: int, suffix_length: int) -> str:
    """``out.par`` + 3 -> ``out_03.par`` (parquet_writer.rs:232-250)."""
    stem, ext = os.path.splitext(path)
    return f"{stem}_{index:0{suffix_length}d}{ext}"


def rebatch(batches, rows: int):
    """Regroup a stream of Arrow record batches into tables of exactly
    ``rows`` rows; only the last may be shorter, and none is empty.
    Slices are zero-copy, so each row is materialized once, by the
    consumer."""
    import pyarrow as pa

    pending: list = []
    n = 0
    for batch in batches:
        if batch.num_rows == 0:
            continue
        pending.append(batch)
        n += batch.num_rows
        while n >= rows:
            table = pa.Table.from_batches(pending)
            yield table.slice(0, rows)
            pending = table.slice(rows).to_batches()
            n -= rows
    if n:
        yield pa.Table.from_batches(pending)


def _ipc_batches(batches, schema):
    """Runs on executors (``mapInArrow``): each Arrow batch, cast to the
    output schema, becomes one LZ4-compressed Arrow IPC stream in a binary
    cell. Uncompressed, a 10,000-row cell is about 1 MB, which the JVM
    copies several times on its way to the driver as humongous objects;
    compressed, the driver JVM's resident set grew ~170 MB less over eight
    100k-row streams, and the stream was no slower."""
    import pyarrow as pa

    lz4 = pa.ipc.IpcWriteOptions(compression="lz4")
    for batch in batches:
        if batch.num_rows == 0:
            continue
        buf = pa.BufferOutputStream()
        with pa.ipc.new_stream(buf, schema, options=lz4) as w:
            w.write_batch(batch.cast(schema))
        yield pa.RecordBatch.from_pydict({"ipc": pa.array([buf.getvalue().to_pybytes()])})


def write_parquet_stdout(
    df: DataFrame, opts: SinkOptions | None = None, out=None
) -> int:
    """A8: stream the result as ONE parquet file to stdout (``out`` = '-').

    Single pass, like the reference (src/query/parquet_writer.rs:192-230,
    src/main.rs:151-155): executors serialize each Arrow batch of the
    result as an Arrow IPC stream (``mapInArrow``); the streams reach the
    driver one partition at a time, in result order (``toLocalIterator``
    — executors keep at most one partition in flight). The driver regroups
    the batches into tables of the reference's batch size, and a pyarrow
    ParquetWriter appends each as one row group straight into the pipe.
    Memory is bounded by one partition plus one batch; no temp file, no
    second IO pass, no per-row Python objects. Arrow carries instants as
    UTC values, so TimestampType columns land exactly as Spark's own
    writer stores them. Splitting flags are rejected like the reference
    rejects them for stdout (src/main.rs:447-451).

    The writer opens at the first row: an empty result writes a
    schema-only file, or nothing with ``no_empty_file`` — the plan runs
    once either way.

    ``out`` overrides the sink (any writable binary file-like) — used by
    tests; defaults to ``sys.stdout.buffer``. Returns bytes written.
    """
    import sys

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    opts = opts or SinkOptions()
    if opts.row_groups_per_file or opts.file_size_threshold:
        raise ValueError("file splitting is not supported when writing to stdout")

    schema = to_arrow_schema(df.schema)
    batch_rows = rows_per_batch(opts, estimate_bytes_per_row(df.schema))
    codec = opts.compression
    kwargs = {}
    if opts.compression_level is not None:
        if codec not in _PYARROW_LEVEL_CODECS:
            raise ValueError(
                f"compression_level is not supported for codec {codec!r} "
                f"(stdout sink supports {sorted(_PYARROW_LEVEL_CODECS)})"
            )
        kwargs["compression_level"] = opts.compression_level

    import io

    class _CountingSink(io.RawIOBase):
        """File-like shim pyarrow can write through: counts bytes and,
        on close, flushes WITHOUT closing the underlying pipe (stdout
        belongs to the caller)."""

        def __init__(self, raw):
            super().__init__()
            self.raw, self.n = raw, 0

        def writable(self):
            return True

        def write(self, b):
            self.raw.write(b)
            self.n += len(b)
            return len(b)

        def flush(self):
            if not self.closed:
                self.raw.flush()

        def close(self):
            if not self.closed:
                self.raw.flush()
            super().close()

    streams = df.mapInArrow(
        lambda batches: _ipc_batches(batches, schema), "ipc binary"
    ).toLocalIterator(prefetchPartitions=False)
    batches = (b for row in streams for b in pa.ipc.open_stream(row.ipc))
    sink = _CountingSink(out if out is not None else sys.stdout.buffer)
    writer = None
    try:
        for table in rebatch(batches, batch_rows):
            if writer is None:
                writer = pq.ParquetWriter(sink, schema, compression=codec, **kwargs)
            writer.write_table(table, row_group_size=batch_rows)
        if writer is None and not opts.no_empty_file:
            writer = pq.ParquetWriter(sink, schema, compression=codec, **kwargs)
    finally:
        if writer is not None:
            writer.close()
    return sink.n


def write_parquet(
    df: DataFrame,
    path: str,
    opts: SinkOptions | None = None,
    column_length_limit: int | None = None,
) -> list[str]:
    """Write ``df`` to parquet with the reference's shaping semantics.

    Returns the list of files/directories produced. Directory mode (no
    splitting flags, ``single_file=False``) writes a standard parquet
    directory — the scale path. File mode materializes ``path`` (or
    ``path_with_suffix`` parts) as single .par files via a driver-side
    rename of the committed part files.

    ``column_length_limit`` is the bound the mapping put on variadic
    values; the bytes-per-row estimate counts it in place of the
    reference's 4,096 default (``--column-length-limit``, SURVEY B13).
    """
    opts = opts or SinkOptions()
    file_mode = opts.single_file or opts.row_groups_per_file or opts.file_size_threshold

    if file_mode and os.path.isdir(path):
        # shutil.move would silently drop the part INSIDE the directory;
        # the reference treats a directory output path as an error
        # (tests/integration.rs:181).
        raise ValueError(f"output path {path!r} is an existing directory")

    if opts.no_empty_file and df.isEmpty():
        return []

    bpr = estimate_bytes_per_row(df.schema, column_length_limit or DEFAULT_VAR_LEN)
    batch_rows = rows_per_batch(opts, bpr)

    if (opts.partition_by or opts.cluster_by) and file_mode:
        raise ValueError("partition_by/cluster_by require directory mode")
    if opts.cluster_by:
        cols = [df[c] for c in opts.cluster_by]
        if opts.cluster_partitions:
            df = df.repartitionByRange(opts.cluster_partitions, *cols)
        else:
            df = df.repartitionByRange(*cols)
        df = df.sortWithinPartitions(*cols)

    if opts.column_encodings or opts.time_columns:
        if file_mode:
            raise ValueError(
                "column_encodings/time_columns require directory mode (the "
                "pyarrow sink); splitting/single_file flags are file-mode only"
            )
        return _write_with_encodings(df, path, opts, batch_rows)

    writer = df.write.mode("overwrite").options(**_compression_options(opts))

    if not file_mode:
        if opts.partition_by:
            writer = writer.partitionBy(*opts.partition_by)
        writer.option("maxRecordsPerFile", batch_rows).parquet(path)
        return [path]

    # -- file mode: parallel write to a staging dir, deterministic rename --
    if opts.row_groups_per_file:
        records_per_file = batch_rows * opts.row_groups_per_file
    elif opts.file_size_threshold:
        # size threshold -> approximate rows via the schema bytes/row estimate,
        # mirroring how the reference converts its memory cap to rows.
        records_per_file = max(1, opts.file_size_threshold // bpr)
    else:
        records_per_file = 0  # single file

    staging = path + ".__staging__"
    w = df.write.mode("overwrite").options(**_compression_options(opts))
    if records_per_file:
        w = w.option("maxRecordsPerFile", records_per_file)
    else:
        df = df.coalesce(1)
        w = df.write.mode("overwrite").options(**_compression_options(opts))
    w.parquet(staging)

    parts = sorted(glob.glob(os.path.join(staging, "part-*")))

    if opts.file_size_threshold and parts:
        # True size-based splitting (reference checks the REAL written
        # bytes after each row group, src/query/batch_size_limit.rs:18-55;
        # the schema estimate can be off several-fold on compressible
        # text). Measure actual bytes/row from this run's own footers and
        # rewrite while the largest part misses the threshold by >2x in
        # either direction. Iterative because measured bytes/row on tiny
        # parts is dominated by per-file footer overhead; each pass
        # refines the marginal rate and the loop settles in <=4 rewrites
        # (or earlier, when the target stops moving).
        # Rewrites read the STAGED bytes back, never re-execute the source
        # plan: the first pass already materialized the (possibly
        # expensive) query, so each refinement is an IO-only pass over
        # the result, exactly like the reference re-chunking its own
        # written row groups.
        import shutil

        import math

        import pyarrow.parquet as _pq

        prev_rpf = records_per_file
        spark = df.sparkSession
        for i in range(4):
            actual_rpf = _resplit_rows(parts, opts.file_size_threshold)
            if not actual_rpf or actual_rpf == prev_rpf:
                break
            prev_rpf = actual_rpf
            nxt = f"{path}.__staging{i}__"
            # maxRecordsPerFile splits WITHIN a task but never merges
            # ACROSS tasks, and the reread inherits one partition per
            # staged part — coalesce (order-preserving, no shuffle) to a
            # task count sized for ~32 capped files per task so
            # over-split parts can actually merge.
            total_rows = sum(
                _pq.ParquetFile(p).metadata.num_rows for p in parts
            )
            tasks = max(1, math.ceil(total_rows / actual_rpf / 32))
            (
                spark.read.parquet(staging)
                .coalesce(tasks)
                .write.mode("overwrite")
                .options(**_compression_options(opts))
                .option("maxRecordsPerFile", actual_rpf)
                .parquet(nxt)
            )
            shutil.rmtree(staging, ignore_errors=True)
            staging = nxt
            parts = sorted(glob.glob(os.path.join(staging, "part-*")))

    return _finalize_parts(parts, path, opts, staging)


def _resplit_rows(parts: list[str], threshold: int) -> int | None:
    """Rows-per-file recomputed from MEASURED bytes/row, or None if the
    staged parts already land within [threshold/2, threshold]. Row counts
    come from the parquet footers — no data is read."""
    import pyarrow.parquet as pq

    sizes = [os.path.getsize(p) for p in parts]
    total_rows = sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    if total_rows == 0:
        return None
    biggest = max(sizes)
    under = len(parts) > 1 and biggest < threshold // 2  # over-split
    over = biggest > threshold  # file exceeds the cap
    if not (under or over):
        return None
    measured_bpr = max(1, sum(sizes) // total_rows)
    # 0.9 fill: leave headroom for per-file footer/dictionary overhead so
    # the rewrite lands UNDER the cap
    return max(1, int(threshold * 0.9) // measured_bpr)


def _stale_outputs(path: str) -> list[str]:
    """Survivors of a previous, larger run over the same stem: the bare
    ``out.par`` plus every ``out_<digits>.par``. Left in place they mix
    generations — yesterday's ``out_03.par`` next to today's
    ``out_01/02`` silently corrupts any downstream ``out_*.par`` glob
    (the reference never has this failure mode: it opens/truncates each
    suffix file itself, src/query/parquet_writer.rs:149-189)."""
    import re

    stem, ext = os.path.splitext(path)
    pat = re.compile(re.escape(stem) + r"_\d+" + re.escape(ext) + r"$")
    stale = [p for p in glob.glob(f"{stem}_*{ext}") if pat.match(p)]
    if os.path.isfile(path):
        stale.append(path)
    return stale


def _finalize_parts(parts: list[str], path: str, opts: SinkOptions, staging: str) -> list[str]:
    produced: list[str] = []
    try:
        # Snapshot previous-generation outputs, but DELETE them only
        # after every rename lands: same-named targets are overwritten
        # atomically by the move itself, and a mid-finalize IO error
        # leaves the prior generation intact instead of destroyed with
        # the new one incomplete.
        stale = set(_stale_outputs(path))
        if len(parts) <= 1 and not (opts.row_groups_per_file or opts.file_size_threshold):
            target = path
            if parts:
                shutil.move(parts[0], target)
            produced.append(target)
        else:
            width = max(opts.suffix_length, int(math.log10(max(len(parts), 1))) + 1)
            for i, part in enumerate(parts, start=1):
                target = path_with_suffix(path, i, width)
                shutil.move(part, target)
                produced.append(target)
        # every rename succeeded: now drop stale survivors this run did
        # not overwrite (yesterday's out_03.par next to today's
        # out_01/02 would corrupt any out_*.par glob)
        for old in stale - set(produced):
            os.remove(old)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return produced


def _write_with_encodings(
    df: DataFrame, path: str, opts: SinkOptions, batch_rows: int
) -> list[str]:
    """Distributed pyarrow sink honoring per-column encodings (A13,
    enum_args.rs:72-97).

    Spark's parquet writer exposes no per-column encoding knob, so each
    task streams its Arrow batches straight into its own file through a
    pyarrow ParquetWriter (``mapInArrow`` — no shuffle, no driver
    materialization, one file per partition like a normal distributed
    write). Tasks write to a tmp name and rename on close, approximating
    the reference's tempfile-until-finalized commit
    (src/query/current_file.rs:14-80).
    """
    col_encodings = opts.column_encodings or {}
    unknown = {c: e for c, e in col_encodings.items() if e not in COLUMN_ENCODINGS}
    if unknown:
        raise ValueError(
            f"unknown column encodings {unknown}; valid: {sorted(COLUMN_ENCODINGS)}"
        )
    missing = set(col_encodings) - set(df.columns)
    if missing:
        raise ValueError(f"column_encodings for absent columns: {sorted(missing)}")

    time_cols = opts.time_columns or {}
    bad_units = {c: u for c, u in time_cols.items() if u not in ("ms", "us", "ns")}
    if bad_units:
        raise ValueError(f"time_columns units must be ms/us/ns, got {bad_units}")
    missing_t = set(time_cols) - set(df.columns)
    if missing_t:
        raise ValueError(f"time_columns for absent columns: {sorted(missing_t)}")

    encodings = {c: COLUMN_ENCODINGS[e] for c, e in col_encodings.items()}
    # pyarrow requires dictionary off for explicitly-encoded columns
    dict_cols = [c for c in df.columns if c not in encodings]
    compression = opts.compression
    compression_level = opts.compression_level
    if compression_level is not None and compression not in _PYARROW_LEVEL_CODECS:
        raise ValueError(
            f"compression_level is not supported for codec {compression!r} "
            f"(pyarrow sink supports {sorted(_PYARROW_LEVEL_CODECS)})"
        )
    out_dir = path
    os.makedirs(out_dir, exist_ok=True)
    for stale in glob.glob(os.path.join(out_dir, "part-*")):
        os.remove(stale)

    def write_partition(batches):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        final = os.path.join(out_dir, f"part-{pid:05d}.parquet")
        tmp = final + ".tmp"
        writer = None

        def cast_times(batch):
            """int-since-midnight -> Arrow TIME so the parquet footer
            carries the TIME(ms/us/ns) logical annotation (B7)."""
            if not time_cols:
                return batch
            arrays, fields = [], []
            for i, field in enumerate(batch.schema):
                arr = batch.column(i)
                unit = time_cols.get(field.name)
                if unit == "ms":
                    arr = arr.cast(pa.int32()).cast(pa.time32("ms"))
                elif unit in ("us", "ns"):
                    arr = arr.cast(pa.int64()).cast(pa.time64(unit))
                arrays.append(arr)
                fields.append(pa.field(field.name, arr.type, field.nullable))
            return pa.RecordBatch.from_arrays(arrays, schema=pa.schema(fields))

        try:
            for batch in batches:
                batch = cast_times(batch)
                if writer is None:
                    writer = pq.ParquetWriter(
                        tmp,
                        batch.schema,
                        compression=compression,
                        compression_level=compression_level,
                        use_dictionary=dict_cols,
                        column_encoding=encodings,
                    )
                writer.write_batch(batch)
            if writer is not None:
                writer.close()
                os.replace(tmp, final)
                yield pa.RecordBatch.from_pylist(
                    [{"file": final}], schema=pa.schema([("file", pa.string())])
                )
        finally:
            if writer is not None and os.path.exists(tmp):
                os.remove(tmp)

    files = df.mapInArrow(write_partition, "file string").collect()
    return sorted(r.file for r in files)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: tuple[str, str],
    num_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` laid out in Z-order on two keys: range-partition +
    sort by the Morton value, one file per partition, stats-disjoint in
    both dimensions. At 100 TB this is the layout pass that makes
    two-predicate scans footer-prunable.

    Key computation delegates to operators/clustering.zorder_key — the
    exact-integer-arithmetic implementation the q_zorder_cluster oracle
    pins (this sink had its own double-scaled variant before round 4;
    one Morton definition now serves layout, stats audit and oracle).
    Like zorder_key, ``cols`` should be integer-domain; pre-scale
    fractional float keys (multiply + floor) so the 2^bits cell grid has
    resolution to cluster on — see zorder_key's docstring.
    """
    from odbc2parquet_spark.operators.clustering import zorder_key

    zdf = zorder_key(df, cols[0], cols[1], bits)
    (
        zdf.repartitionByRange(num_files, F.col("zkey"))
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 512 * 1024 * 1024,
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files. Returns (files_before, files_after).

    The maintenance pass every long-lived ingest needs — streaming and
    per-batch writes accumulate small files until scan planning (footer
    reads, task scheduling) dominates query time. Coalesce (no shuffle)
    into a staging directory, then an atomic-enough swap: the old layout
    is moved aside before staging is renamed in, and removed only after.
    At 100 TB run this per partition directory, not on the whole table.
    """
    staging = path.rstrip("/") + "_compact_staging"
    backup = path.rstrip("/") + "_compact_old"
    # recover from a crashed prior run: if the table dir is gone but the
    # backup survived, restore it; stale staging/backup dirs are removed
    # so they can never collide with this run's renames
    if not os.path.isdir(path) and os.path.isdir(backup):
        os.rename(backup, path)
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(backup, ignore_errors=True)
    before = [f for f in glob.glob(os.path.join(path, "*.parquet"))]
    total = sum(os.path.getsize(f) for f in before)
    n_files = max(1, math.ceil(total / target_file_bytes))
    (
        spark.read.parquet(path)
        .coalesce(n_files)
        .write.mode("overwrite")
        .parquet(staging)
    )
    os.rename(path, backup)
    os.rename(staging, path)
    shutil.rmtree(backup)
    after = glob.glob(os.path.join(path, "*.parquet"))
    return (len(before), len(after))


def audit_output(paths: list[str]) -> dict:
    """Footer-only reconciliation of a finished write: (n_rows, n_files,
    n_row_groups, total_bytes) summed from parquet METADATA — no data
    pages are read, so auditing a 100 TB export costs one footer fetch
    per file. The did-we-lose-rows check every transfer pipeline runs
    before swapping an output live; pair with the source count
    (reference analogue: the reference trusts its single writer loop,
    src/query/mod.rs — a distributed writer earns the explicit audit).

    ``paths`` is write_parquet's return value (files or directories).
    """
    import pyarrow.parquet as pq

    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))))
        else:
            files.append(p)
    n_rows = n_groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        n_groups += md.num_row_groups
    return {
        "n_rows": n_rows,
        "n_files": len(files),
        "n_row_groups": n_groups,
        "total_bytes": sum(os.path.getsize(f) for f in files),
    }
