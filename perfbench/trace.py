"""In-memory spans and per-op counters for the traced pass.

The traced pass wraps the public entry points of each layer from outside the
package (nothing in ``odbc2parquet_spark`` knows it is being traced). Every
wrapped call becomes a span with a name, start, end, parent span and the id
of the op it belongs to. Spans stay in memory until the run ends; the worker
then reduces them to per-layer numbers and writes them out as one JSON file.

Span names are ``<layer>.<call>``. A layer's self time is the sum, over its
spans, of each span's duration minus the time covered by its child spans.
"""

from __future__ import annotations

import functools
import glob
import inspect
import os
from contextlib import contextmanager
from time import perf_counter

#: layers whose self time is reported; ``op`` is the benchmark's own time
#: inside an op that no layer span covers
SELF_LAYERS = ("catalog", "engine", "mappings", "sink", "writeback", "queries", "op")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper until :meth:`restore`.

        ``after(rec, args, result)`` may annotate the span once the call
        returned; it runs outside the span's timed interval.
        """
        orig = inspect.getattr_static(owner, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None:
                after(rec, args, out)
            return out

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def install(tracer: Tracer) -> None:
    """Wrap the public calls of every layer the workloads reach."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from odbc2parquet_spark import engine
    from odbc2parquet_spark.sinks import parquet_sink, writeback

    def count_part_files(rec, args, _out):
        # files the Spark write pass left in its target directory
        rec["files"] = len(glob.glob(os.path.join(str(args[1]), "part-*")))

    tracer.wrap(engine.Engine, "query", "engine.query")
    # Engine.query_to_parquet calls these through names bound in engine
    tracer.wrap(engine, "apply_mapping_options", "mappings.apply")
    tracer.wrap(engine, "write_parquet", "sink.write")
    tracer.wrap(parquet_sink, "write_parquet", "sink.write")
    tracer.wrap(parquet_sink, "write_parquet_stdout", "sink.stdout")
    tracer.wrap(writeback, "insert_parquet", "writeback.insert")
    tracer.wrap(writeback, "execute_parquet", "writeback.exec")
    tracer.wrap(DataFrameWriter, "parquet", "sink.spark_write", after=count_part_files)
    tracer.wrap(DataFrameReader, "parquet", "catalog.read_parquet")
    tracer.wrap(DataFrame, "isEmpty", "sink.empty_check")


def _dur(rec: dict) -> float:
    return rec["end"] - rec["start"]


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the durations of its direct children.

    Calls are synchronous, so children never overlap each other and always
    lie inside their parent."""
    out = [_dur(s) for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= _dur(s)
    return out


def summarize(spans: list[dict], n_ops: int) -> dict[str, float]:
    """Per-op means: ``<span name>_s`` durations, ``<span name>#`` counts,
    ``self.<layer>_s`` self times and ``first_pass_files``."""
    totals: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        totals[key] = totals.get(key, 0.0) + v

    first_write_seen: set = set()
    for s, own in zip(spans, self_times(spans)):
        add(f"{s['name']}_s", _dur(s))
        add(f"{s['name']}#", 1)
        add(f"self.{s['name'].split('.', 1)[0]}_s", own)
        if s["name"] == "sink.spark_write" and s["parent"] not in first_write_seen:
            # the first pass of each sink call: one write per sink.write
            first_write_seen.add(s["parent"])
            add("first_pass_files", s.get("files", 0))
    return {k: v / max(n_ops, 1) for k, v in totals.items()}


class TimedConnection:
    """A DBAPI connection whose ``executemany`` and ``commit`` add their
    wall time to a Spark accumulator. It runs inside the Python workers, so
    the time reaches the driver through the accumulator."""

    def __init__(self, con, acc) -> None:
        self._con, self._acc = con, acc

    def _timed(self, fn, *args):
        t0 = perf_counter()
        try:
            return fn(*args)
        finally:
            self._acc.add(perf_counter() - t0)

    def cursor(self):
        return TimedCursor(self._con.cursor(), self)

    def commit(self):
        return self._timed(self._con.commit)

    def close(self):
        return self._con.close()


class TimedCursor:
    def __init__(self, cur, owner: TimedConnection) -> None:
        self._cur, self._owner = cur, owner

    def executemany(self, statement, rows):
        return self._owner._timed(self._cur.executemany, statement, rows)


def timed_sqlite(path: str, acc) -> TimedConnection:
    import sqlite3

    return TimedConnection(sqlite3.connect(path), acc)
