"""Relational-type -> Spark type mapping layer.

This re-expresses the reference's per-column conversion-strategy system
(reference src/query/column_strategy.rs:109-216 dispatch; decimal matrix
src/query/decimal.rs:23-135; timestamp tiers
src/query/timestamp_precision.rs:17-23; TIME src/query/time.rs:19-78;
binary src/query/binary.rs; unsigned TINYINT column_strategy.rs:145-154;
unknown fallback column_strategy.rs:224-239) as declarative Spark casts.

Where the reference chooses an ODBC fetch buffer + parquet physical type per
column, we choose a Catalyst ``DataType`` + a column transform. Both systems
answer the same question — "given DECIMAL(13,3), what lands in the file?" —
and the matrix below gives the same answers, with two documented divergences:

- Spark has no TIME type: TIME(p) becomes integer-since-midnight with the
  reference's unit tiers (ms for p<=3 as int, else us/ns as long) — same
  on-disk integers the reference writes.
- Spark timestamps are microsecond instants: precision >= 7 becomes an
  explicit epoch-nanosecond ``LongType`` with the reference's
  1677-09-21..2262-04-11 range error (timestamp_precision.rs:69-81).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# i64 nanosecond-epoch bounds (same limit the reference enforces for ns
# timestamps, timestamp_precision.rs:69-81). The minimum is
# ceil(i64::MIN / 1000): floor would pass the micros check yet overflow
# i64 when scaled to nanos.
NS_MIN_MICROS = -9223372036854775  # ceil(i64::MIN / 1000)
NS_MAX_MICROS = 9223372036854775  # floor(i64::MAX / 1000)


@dataclass(frozen=True)
class MappingOptions:
    """Port of the reference's MappingOptions (column_strategy.rs:53-60)."""

    avoid_decimal: bool = False  # --avoid-decimal
    prefer_varbinary: bool = False  # --prefer-varbinary
    driver_supports_i64: bool = True  # false for Oracle (--driver-does-not-support-64bit-integers)
    column_length_limit: int | None = None  # --column-length-limit analogue
    # what to do when a value exceeds column_length_limit: the reference
    # fails loudly with the column name and a remediation hint
    # (conversion_strategy.rs:176-197); "truncate" is the opt-in lossy path.
    length_limit_action: str = "error"  # "error" | "truncate"


@dataclass(frozen=True)
class SourceType:
    """A relational source column type, as ODBC metadata would describe it.

    ``precision=None`` means the driver reported no precision (unknown);
    an explicit 0 is meaningful (TIMESTAMP(0) is second-precision and maps
    to the millisecond tier, timestamp_precision.rs:17-23).
    """

    kind: str  # lowercase family: int/smallint/tinyint/bigint/real/double/
    # decimal/date/time/timestamp/timestamptz/bit/char/varchar/binary/
    # varbinary/unknown
    precision: int | None = None
    scale: int = 0
    length: int = 0
    unsigned: bool = False


@dataclass
class ColumnMapping:
    """Result of planning one column: target type + transform + notes."""

    spark_type: T.DataType
    note: str = ""
    # transform from the raw source column to the target representation;
    # identity casts are expressed as .cast for clarity.
    _fn: object = field(default=None, repr=False)

    def apply(self, col: Column) -> Column:
        if self._fn is not None:
            return self._fn(col)
        return col.cast(self.spark_type)


def _decimal_mapping(p: int, s: int, opts: MappingOptions) -> ColumnMapping:
    """The decimal matrix (decimal.rs:42-134).

    The reference distinguishes i32/i64/i128 fetch paths by precision;
    Spark's DecimalType covers p<=38 natively (the physical int32/int64/FLBA
    choice is made by the parquet writer from the precision — same on-disk
    layout). The behavioral switches that survive: --avoid-decimal and the
    p>38-stays-text rule.
    """
    if opts.avoid_decimal:
        if s != 0:
            # scale != 0: text of width p+2 (decimal.rs:36-40)
            return ColumnMapping(T.StringType(), "avoid_decimal: s!=0 -> text")
        if p <= 9:
            return ColumnMapping(T.IntegerType(), "avoid_decimal: p<=9 s=0 -> int32")
        if p <= 18:
            # int64 regardless of driver i64 support — without it the
            # reference only changes the FETCH path (text -> i64 convert,
            # decimal.rs:86-108), the target type stays Integer(64).
            return ColumnMapping(T.LongType(), "avoid_decimal: p<=18 s=0 -> int64")
        # p 19..38 stays decimal even under avoid_decimal: the reference's
        # (0..=38, _) arm (DecimalAsBinary, decimal.rs:124) has no
        # avoid_decimal branch.
    if p > 38:
        return ColumnMapping(T.StringType(), "p>38 -> text (decimal.rs:125-133)")
    return ColumnMapping(T.DecimalType(p, s), f"decimal({p},{s})")


def _timestamp_unit(precision: int) -> str:
    """Precision digits -> unit tier (timestamp_precision.rs:17-23)."""
    if precision <= 3:
        return "ms"
    if precision <= 6:
        return "us"
    return "ns"


def _timestamp_ns_transform(col: Column) -> Column:
    """Timestamp -> epoch nanoseconds with the reference's range error.

    Spark timestamps carry microseconds; values outside the i64-ns range
    raise, mirroring timestamp_precision.rs:69-81 ("Invalid timestamp...").
    """
    micros = F.unix_micros(col)
    out_of_range = (micros < F.lit(NS_MIN_MICROS)) | (micros > F.lit(NS_MAX_MICROS))
    return F.when(
        out_of_range,
        F.raise_error(
            F.concat(
                F.lit("timestamp out of range for nanosecond precision "
                      "(1677-09-21..2262-04-11): "),
                col.cast("string"),
            )
        ),
    ).otherwise(micros * F.lit(1000))


def map_source_type(
    st: SourceType,
    opts: MappingOptions | None = None,
    column_name: str = "",
) -> ColumnMapping:
    """Dispatch: source type -> target Spark representation.

    Mirrors the match in column_strategy.rs:109-216. ``column_name`` feeds
    the length-limit error message (the reference names the offending
    column, conversion_strategy.rs:190-196).
    """
    opts = opts or MappingOptions()
    k = st.kind.lower()

    if k == "real" or (k == "float" and st.precision is not None and 0 < st.precision <= 24):
        return ColumnMapping(T.FloatType())
    if k in ("double", "float"):  # FLOAT(p>24) and DOUBLE
        return ColumnMapping(T.DoubleType())
    if k == "tinyint":
        # unsigned TINYINT (0..255) does not fit ByteType -> ShortType
        # (column_strategy.rs:145-154 maps it to Integer(8, unsigned)).
        if st.unsigned:
            return ColumnMapping(T.ShortType(), "unsigned tinyint -> int16")
        return ColumnMapping(T.ByteType())
    if k == "smallint":
        return ColumnMapping(T.ShortType())
    if k in ("int", "integer"):
        return ColumnMapping(T.IntegerType())
    if k == "bigint":
        return ColumnMapping(T.LongType())
    if k in ("bit", "boolean"):
        return ColumnMapping(T.BooleanType())
    if k in ("decimal", "numeric"):
        return _decimal_mapping(st.precision or 0, st.scale, opts)
    if k == "date":
        return ColumnMapping(T.DateType())
    if k == "timestamp":
        # unknown precision defaults to the ns tier (the widest); an
        # EXPLICIT 0 (e.g. datetime2(0)) is second precision and must hit
        # the ms tier (timestamp_precision.rs:17-23)
        unit = _timestamp_unit(st.precision if st.precision is not None else 7)
        if unit == "ns":
            return ColumnMapping(
                T.LongType(), "epoch-ns long (precision>=7)", _fn=_timestamp_ns_transform
            )
        # ms/us both fit Spark's microsecond TimestampNTZ; the parquet writer
        # records the unit. Wall-clock semantics (utc=false) -> NTZ.
        return ColumnMapping(T.TimestampNTZType(), f"timestamp({st.precision}) -> {unit}")
    if k in ("timestamptz", "datetimeoffset"):
        # instant semantics, normalized to UTC (timestamp_tz.rs:92-108) --
        # Spark TimestampType is exactly an instant; session tz pinned UTC.
        return ColumnMapping(T.TimestampType(), "tz-normalized instant")
    if k == "time":
        from odbc2parquet_spark.functions.timeutil import time_text_to_int

        unit = _timestamp_unit(st.precision or 0)
        target = T.IntegerType() if unit == "ms" else T.LongType()
        return ColumnMapping(
            target,
            f"time({st.precision}) -> {unit}-since-midnight",
            _fn=lambda c, u=unit: time_text_to_int(c, u),
        )
    if k == "binary":
        # fixed-length BINARY(n) -> FLBA(n) unless --prefer-varbinary
        # (column_strategy.rs:155-162). Spark has only BinaryType; the
        # fixed-length property is recorded as a note (physical layout is a
        # writer concern Spark does not expose).
        note = "varbinary" if opts.prefer_varbinary else f"fixed({st.length})"
        return ColumnMapping(T.BinaryType(), note)
    if k in ("varbinary", "longvarbinary"):
        return ColumnMapping(T.BinaryType())
    if k in ("char", "varchar", "wchar", "wvarchar", "longvarchar", "wlongvarchar", "text"):
        if opts.column_length_limit:
            lim = opts.column_length_limit
            if opts.length_limit_action == "truncate":
                return ColumnMapping(
                    T.StringType(),
                    f"text truncated to {lim} (opt-in lossy path)",
                    _fn=lambda c, n=lim: F.substring(c.cast("string"), 1, n),
                )
            return ColumnMapping(
                T.StringType(),
                f"text length-checked against {lim} (error on exceed)",
                _fn=lambda c, n=lim, name=column_name: _length_guard(c, n, name),
            )
        return ColumnMapping(T.StringType())
    # unknown -> text fallback (column_strategy.rs:224-239)
    return ColumnMapping(T.StringType(), "unknown type -> text fallback")


def _length_guard(col: Column, limit: int, column_name: str) -> Column:
    """Fail loudly when a value exceeds the length limit.

    Mirrors the reference's actionable truncation error
    (conversion_strategy.rs:176-197): names the column and points at the
    remediation flags instead of silently shortening data.
    """
    msg = F.concat(
        F.lit(
            "A field exceeds the maximum element length "
            f"({limit}) of column {column_name or '<unnamed>'!r}. "
            "The driver indicated an actual length of "
        ),
        F.length(col).cast("string"),
        F.lit(
            ". Use --column-length-limit to raise the limit, or "
            "--length-limit-action truncate to shorten values."
        ),
    )
    c = col.cast("string")
    return F.when(F.length(c) > F.lit(limit), F.raise_error(msg)).otherwise(c)


def source_type_of(dt: T.DataType) -> SourceType | None:
    """Spark type -> the SourceType family the mapping options act on.

    Returns None for types no option transforms (identity mapping) so
    :func:`apply_mapping_options` leaves those columns untouched.
    """
    if isinstance(dt, T.DecimalType):
        return SourceType("decimal", precision=dt.precision, scale=dt.scale)
    if isinstance(dt, T.StringType):
        return SourceType("varchar")
    if isinstance(dt, T.BinaryType):
        return SourceType("varbinary")
    return None


def apply_mapping_options(df, opts: MappingOptions):
    """Re-map a DataFrame's columns per the CLI mapping flags.

    The analogue of the reference applying its strategy matrix to the
    result-set metadata (main.rs -> column_strategy.rs): decimals get the
    avoid-decimal matrix, strings the length-limit guard. Purely
    declarative — every transform is a Catalyst expression, so pushdown
    and codegen are unaffected.
    """
    if not (opts.avoid_decimal or opts.prefer_varbinary or opts.column_length_limit):
        return df
    cols = []
    for f in df.schema.fields:
        st = source_type_of(f.dataType)
        if st is None:
            cols.append(F.col(f.name))
        else:
            m = map_source_type(st, opts, column_name=f.name)
            cols.append(m.apply(F.col(f.name)).alias(f.name))
    return df.select(*cols)


#: bytes-per-value estimates used for memory-bounded batch sizing, the
#: analogue of the reference's bytes-per-row computation feeding
#: BatchSizeLimit (batch_size_limit.rs:59-109). Strings/binaries count
#: ``default_var_len``: the mapping's column_length_limit when one is
#: set, else the reference's 4096 default cap.
_FIXED_WIDTH = {
    T.BooleanType: 1,
    T.ByteType: 1,
    T.ShortType: 2,
    T.IntegerType: 4,
    T.FloatType: 4,
    T.DateType: 4,
    T.LongType: 8,
    T.DoubleType: 8,
    T.TimestampType: 8,
    T.TimestampNTZType: 8,
}


#: the reference's default ``--column-length-limit`` (SURVEY B13)
DEFAULT_VAR_LEN = 4096


def estimate_bytes_per_row(
    schema: T.StructType, default_var_len: int = DEFAULT_VAR_LEN
) -> int:
    total = 0
    for f in schema.fields:
        w = _FIXED_WIDTH.get(type(f.dataType))
        if w is None:
            if isinstance(f.dataType, T.DecimalType):
                w = 16
            else:
                w = default_var_len
        total += w
    return max(total, 1)
