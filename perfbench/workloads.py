"""The workloads: seeded op lists over the generated inputs, and the output
check of every op.

An op is one call into the program's public API (``run``), with untimed
``prepare`` and ``check`` steps around it. ``check`` verifies the op's output
against an independent reference and returns what the op delivered. Every
reference is computed by DuckDB over the same generated parquet files, or by
plain Python over them.
"""

from __future__ import annotations

import datetime
import functools
import gc
import glob
import io
import math
import os
import random
import shutil
import sqlite3
from collections.abc import Callable
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import pyarrow.parquet as pq

from perfbench import gen

#: the typed lineitem result every export and split op writes: decimal and
#: date casts over the raw doubles and timestamps
TYPED_SQL = """
SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
       CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
       CAST(l_extendedprice AS DECIMAL(15,2)) AS l_extendedprice,
       CAST(l_discount AS DECIMAL(4,2)) AS l_discount,
       CAST(l_tax AS DECIMAL(4,2)) AS l_tax,
       l_returnflag, l_linestatus,
       CAST(l_shipdate AS DATE) AS l_shipdate
FROM lineitem"""

SLICE_SQL = TYPED_SQL + """
WHERE CAST(l_shipdate AS DATE) >= ? AND CAST(l_shipdate AS DATE) < ?"""

JOIN_SQL = """
SELECT c.c_mktsegment, o.o_orderpriority, year(o.o_orderdate) AS o_year,
       COUNT(*) AS n_lines,
       SUM(CAST(l.l_extendedprice AS DECIMAL(15,2))) AS revenue,
       SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS quantity
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE CAST(o.o_orderdate AS DATE) >= ?
GROUP BY c.c_mktsegment, o.o_orderpriority, year(o.o_orderdate)"""

STDOUT_SQL = TYPED_SQL + """
WHERE l_orderkey >= ? AND l_orderkey < ?"""

#: orders per stdout slice: about 100k lineitem rows
STDOUT_ORDERS = 25_000

#: the ``exec`` statement: named placeholders, one column bound twice
EXEC_SQL = (
    "INSERT INTO li_exec (orderkey, linenumber, quantity, flag, shipdate, "
    "orderkey_again) VALUES (?l_orderkey?, ?l_linenumber?, ?l_quantity?, "
    "?l_returnflag?, ?l_shipdate?, ?l_orderkey?)"
)
EXEC_COLUMNS = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag",
                "l_shipdate", "l_orderkey"]

#: the split op's byte threshold. The sink sizes its first pass from the
#: schema estimate (4 KiB per unbounded string), so even this threshold,
#: 20 times the ~6 MB result, costs it ~37 first-pass files and a second
#: Spark write. Thresholds that give several output files need >1,900
#: first-pass files (~40 s per op), more than the run budget holds.
SPLIT_THRESHOLD = 128 * 1024 * 1024
SPLIT_BATCH_ROWS = 50_000
SPLIT_ROW_GROUPS = 3

CORPUS_QUERY = "tx_prepare_corpus"


class CheckFailed(AssertionError):
    pass


def require(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Delivery:
    """What an op handed to its sink, from the untimed output audit."""

    rows: int
    bytes: int
    files: int = 0
    row_groups: int = 0


@dataclass
class Op:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], Delivery]
    prepare: Callable[[], None] = field(default=lambda: None)


class Context:
    """Everything the ops share within one run."""

    def __init__(self, spark, inputs: str, work: str, seed: int):
        from odbc2parquet_spark.engine import Engine

        self.spark = spark
        self.engine = Engine(spark)
        self.inputs = inputs
        self.work = work
        self.rng = random.Random(seed)
        self.db = duckdb.connect()
        for name in ("lineitem", "orders", "customer", "documents"):
            path = os.path.join(inputs, f"{name}.parquet")
            self.db.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        #: the DBAPI connection factory write-back ops use; the traced pass
        #: swaps in one that times the database calls
        self.connect: Callable[[str], Callable] = lambda path: functools.partial(
            sqlite3.connect, path
        )
        self._refs: dict[tuple, tuple] = {}
        #: set for the traced pass only
        self.tracer = None

    def quiesce(self) -> None:
        """Collect garbage in both heaps, so that every op starts from a
        comparable heap instead of paying for its predecessor's garbage."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def out(self, name: str) -> str:
        return os.path.join(self.work, name)

    def reference(self, sql: str, params: tuple = ()) -> tuple:
        """Row count and value checksum of ``sql`` run by DuckDB, memoized."""
        key = (sql, params)
        if key not in self._refs:
            self._refs[key] = checksum(self.db, f"({sql})", list(params))
        return self._refs[key]


# -- checksums -------------------------------------------------------------

def checksum(con, relation: str, params: list | None = None) -> tuple:
    """Order-insensitive (names, row count, per-column sums) of a relation.

    Numeric columns sum as doubles; every other column sums a hash of its
    text form, so dates, strings and decimals compare by value."""
    import pyarrow as pa

    schema = con.execute(f"SELECT * FROM {relation} AS t LIMIT 0", params or []).arrow().schema
    aggs = ["count(*)"]
    for f in schema:
        q = '"' + f.name.replace('"', '""') + '"'
        if pa.types.is_integer(f.type) or pa.types.is_floating(f.type) or pa.types.is_decimal(f.type):
            aggs.append(f"sum(CAST({q} AS DOUBLE))")
        else:
            aggs.append(f"sum(hash(coalesce(CAST({q} AS VARCHAR), '<null>')))")
        aggs.append(f"count({q})")
    row = con.execute(f"SELECT {', '.join(aggs)} FROM {relation} AS t", params or []).fetchone()
    return tuple(schema.names), tuple(row)


def same_checksum(got: tuple, want: tuple) -> bool:
    if got[0] != want[0] or len(got[1]) != len(want[1]):
        return False
    for a, b in zip(got[1], want[1]):
        if isinstance(a, float) or isinstance(b, float):
            if a is None or b is None or not math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6):
                return False
        elif a != b:
            return False
    return True


def parquet_files(paths: list[str]) -> list[str]:
    files: list[str] = []
    for p in paths:
        if os.path.isdir(p):
            files.extend(sorted(glob.glob(os.path.join(p, "*.parquet"))))
        else:
            files.append(p)
    return files


def audit_files(ctx: Context, files: list[str], want: tuple) -> Delivery:
    """Footer rows equal the reference count; values match its checksum."""
    require(bool(files), "no output files")
    rows = groups = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        rows += md.num_rows
        groups += md.num_row_groups
    require(rows == want[1][0], f"footer rows {rows} != source rows {want[1][0]}")
    listed = ", ".join(f"'{f}'" for f in files)
    got = checksum(ctx.db, f"read_parquet([{listed}])")
    require(same_checksum(got, want), "output values differ from the reference")
    return Delivery(rows, sum(os.path.getsize(f) for f in files), len(files), groups)


def clear(path: str) -> None:
    """Remove an op's previous output: the path, its split parts, staging."""
    stem, ext = os.path.splitext(path)
    for p in [path, *glob.glob(f"{stem}_*{ext}"), *glob.glob(f"{path}.__staging*")]:
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)


# -- export ------------------------------------------------------------------


def _typed_mapping():
    from odbc2parquet_spark.mappings import MappingOptions

    # length-checked strings: every value fits, so the guard never fires
    return MappingOptions(column_length_limit=16)


def export_op(ctx: Context, kind: str, sql: str, params: tuple, name: str,
              sink_kwargs: dict, mapping=None) -> Op:
    from odbc2parquet_spark.sinks.parquet_sink import SinkOptions

    path = ctx.out(name)
    sink = SinkOptions(**sink_kwargs)

    def run():
        return ctx.engine.query_to_parquet(sql, path, params=list(params) or None,
                                           sink=sink, mapping=mapping)

    def check(produced):
        want = ctx.reference(sql, params)
        if want[1][0] == 0 and sink.no_empty_file:
            require(produced == [] and not os.path.exists(path),
                    "no_empty_file wrote output for an empty result")
            return Delivery(0, 0)
        if sink.single_file:
            require(produced == [path] and os.path.isfile(path), "not one output file")
        return audit_files(ctx, parquet_files(produced), want)

    return Op(kind, run, check, prepare=lambda: clear(path))


def corpus_op(ctx: Context) -> Op:
    """A registered curation query (queries/operators layers) exported to a
    parquet directory, checked against the query's own DuckDB oracle."""
    from odbc2parquet_spark import cachereg
    from odbc2parquet_spark.queries import ORACLES, QUERIES
    from odbc2parquet_spark.sinks import parquet_sink

    path = ctx.out("corpus")

    def span(name: str):
        return ctx.tracer.span(name) if ctx.tracer else nullcontext()

    def run():
        with span("queries.build"):
            df = QUERIES[CORPUS_QUERY](ctx.spark, ctx.inputs)
        with span("queries.execute"):
            return parquet_sink.write_parquet(df, path)

    def check(produced):
        cachereg.release_all()
        return audit_files(ctx, parquet_files(produced), ctx.reference(ORACLES[CORPUS_QUERY]))

    return Op("corpus", run, check, prepare=lambda: clear(path))


def slices_op(ctx: Context, slices: list[tuple]) -> Op:
    """Date slices with ``?`` parameters and ``no_empty_file``, one file
    each, in one op; the seed picks the dates, and one slice is empty."""
    ops = [export_op(ctx, "slices", SLICE_SQL, params, f"slice{i}.par",
                     {"single_file": True, "no_empty_file": True})
           for i, params in enumerate(slices)]

    def prepare():
        for op in ops:
            op.prepare()

    def run():
        return [op.run() for op in ops]

    def check(produced):
        parts = [op.check(out) for op, out in zip(ops, produced)]
        return Delivery(*(sum(getattr(d, k) for d in parts)
                          for k in ("rows", "bytes", "files", "row_groups")))

    return Op("slices", run, check, prepare)


def export_ops(ctx: Context) -> list[Op]:
    rng = ctx.rng

    def year_slice() -> tuple:
        lo = gen.DATE_LO + datetime.timedelta(days=rng.randrange(0, 1700))
        return lo, lo + datetime.timedelta(days=365 + rng.randrange(0, 30))

    after_end = gen.DATE_HI + datetime.timedelta(days=rng.randrange(1, 365))
    empty = (after_end, after_end + datetime.timedelta(days=30))
    joined_from = gen.DATE_LO + datetime.timedelta(days=rng.randrange(0, 365))
    typed = _typed_mapping()
    return [
        export_op(ctx, "typed_dir", TYPED_SQL, (), "typed_dir", {}, typed),
        export_op(ctx, "typed_file", TYPED_SQL, (), "typed.par",
                  {"single_file": True}, typed),
        slices_op(ctx, [year_slice(), year_slice(), empty]),
        export_op(ctx, "join_agg", JOIN_SQL, (joined_from,), "join.par",
                  {"single_file": True}),
    ] + split_ops(ctx)


# -- split_export ------------------------------------------------------------


def split_op(ctx: Context, kind: str, name: str, sink_kwargs: dict,
             max_bytes: int = 0, max_rows: int = 0) -> Op:
    op = export_op(ctx, kind, TYPED_SQL, (), name, sink_kwargs, _typed_mapping())
    path = ctx.out(name)
    stem, ext = os.path.splitext(path)

    def check(produced):
        names = [os.path.basename(p) for p in produced]
        base = os.path.basename(stem)
        want_names = [f"{base}_{i:02d}{ext}" for i in range(1, len(produced) + 1)]
        require(names == want_names, f"split names {names[:3]}... are not _NN parts")
        require(not glob.glob(f"{path}.__staging*"), "staging directory left behind")
        for p in produced:
            if max_bytes:
                require(os.path.getsize(p) <= max_bytes, f"{p} exceeds the threshold")
            if max_rows:
                require(pq.ParquetFile(p).metadata.num_rows <= max_rows,
                        f"{p} holds more rows than its row-group budget")
        return audit_files(ctx, produced, ctx.reference(TYPED_SQL))

    return Op(kind, op.run, check, op.prepare)


def split_ops(ctx: Context) -> list[Op]:
    return [
        split_op(ctx, "split_threshold", "thr.par",
                 {"file_size_threshold": SPLIT_THRESHOLD}, max_bytes=SPLIT_THRESHOLD),
        split_op(ctx, "split_rowgroups", "rg.par",
                 {"batch_size_rows": SPLIT_BATCH_ROWS, "row_groups_per_file": SPLIT_ROW_GROUPS},
                 max_rows=SPLIT_BATCH_ROWS * SPLIT_ROW_GROUPS),
    ]


# -- db_roundtrip --------------------------------------------------------------


def stdout_op(ctx: Context) -> Op:
    from odbc2parquet_spark.sinks import parquet_sink

    max_key = gen.N_ORDERS - STDOUT_ORDERS
    lo = ctx.rng.randrange(1, max_key)
    params = (lo, lo + STDOUT_ORDERS)
    box: dict = {}

    def run():
        box["buf"] = buf = io.BytesIO()
        df = ctx.engine.query(STDOUT_SQL, list(params))
        return parquet_sink.write_parquet_stdout(df, out=buf)

    def check(written):
        data = box.pop("buf").getvalue()
        require(written == len(data), "returned byte count differs from the stream")
        table = pq.read_table(io.BytesIO(data))  # one parquet file, or raises
        want = ctx.reference(STDOUT_SQL, params)
        require(table.num_rows == want[1][0], "stdout rows differ from the source")
        ctx.db.register("stdout_table", table)
        try:
            got = checksum(ctx.db, "stdout_table")
        finally:
            ctx.db.unregister("stdout_table")
        require(same_checksum(got, want), "stdout values differ from the reference")
        return Delivery(table.num_rows, len(data), 1, pq.ParquetFile(io.BytesIO(data)).num_row_groups)

    return Op("stdout", run, check)


#: sqlite tables the write-back ops fill, one fresh database per op
_SQLITE_DDL = {
    "insert": "CREATE TABLE li (l_orderkey INTEGER, l_linenumber INTEGER, "
    "l_quantity TEXT, l_extendedprice REAL, l_discount TEXT, l_returnflag TEXT, "
    "l_shipdate TEXT)",
    "exec": "CREATE TABLE li_exec (orderkey INTEGER, linenumber INTEGER, "
    "quantity TEXT, flag TEXT, shipdate TEXT, orderkey_again INTEGER)",
}


def _db_value(v):
    """Source value as the write-back contract stores it: decimals and dates
    as text, everything else as is."""
    if hasattr(v, "as_tuple"):  # Decimal
        return format(v, "f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _row_checksum(rows) -> tuple[int, int]:
    n = total = 0
    for r in rows:
        n += 1
        total = (total + hash(tuple(r))) & 0xFFFFFFFFFFFFFFFF
    return n, total


def writeback_op(ctx: Context, kind: str) -> Op:
    from odbc2parquet_spark.sinks import writeback

    source = os.path.join(ctx.inputs, "roundtrip.parquet")
    db_path = ctx.out(f"{kind}.sqlite")
    state: dict = {}

    def prepare():
        clear(db_path)
        con = sqlite3.connect(db_path)
        con.execute(_SQLITE_DDL[kind])
        con.commit()
        con.close()
        state["size0"] = os.path.getsize(db_path)

    def run():
        factory = ctx.connect(db_path)
        if kind == "insert":
            return writeback.insert_parquet(ctx.spark, source, "li", connection_factory=factory)
        return writeback.execute_parquet(ctx.spark, source, EXEC_SQL, connection_factory=factory)

    def expected() -> tuple[int, int]:
        if kind not in state:
            cols = pq.read_table(source).to_pydict()
            names = list(cols) if kind == "insert" else EXEC_COLUMNS
            state[kind] = _row_checksum(
                tuple(_db_value(v) for v in row) for row in zip(*(cols[c] for c in names))
            )
        return state[kind]

    def check(returned):
        table = "li" if kind == "insert" else "li_exec"
        con = sqlite3.connect(db_path)
        try:
            got = _row_checksum(con.execute(f"SELECT * FROM {table}"))
        finally:
            con.close()
        want = expected()
        require(returned == want[0], f"{kind} reported {returned} rows, source has {want[0]}")
        require(got[0] == want[0], f"sqlite holds {got[0]} rows, source has {want[0]}")
        require(got[1] == want[1], "sqlite values differ from the source")
        return Delivery(got[0], os.path.getsize(db_path) - state["size0"])

    return Op(kind, run, check, prepare)


def roundtrip_ops(ctx: Context) -> list[Op]:
    return [stdout_op(ctx), writeback_op(ctx, "insert"), writeback_op(ctx, "exec"),
            corpus_op(ctx)]


@dataclass(frozen=True)
class Workload:
    tables: tuple[str, ...]
    build: Callable[[Context], list[Op]]


WORKLOADS: dict[str, Workload] = {
    "export": Workload(("lineitem", "orders", "customer"),
                       export_ops),
    "db_roundtrip": Workload(("lineitem", "documents"), roundtrip_ops),
}


def op_list(ctx: Context, workload: str) -> list[Op]:
    """The run's op list: the workload's ops in a seeded order."""
    ops = WORKLOADS[workload].build(ctx)
    ctx.rng.shuffle(ops)
    return ops
