"""The benchmark's own tests.

Fast tests: ``python3 -m pytest perfbench/tests -q`` from the repository
root. The end-to-end tests start Spark several times (about five minutes):
``python3 -m pytest perfbench/tests -q -m slow``.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import duckdb
import pyarrow as pa
import pytest

from perfbench import gen, trace
from perfbench.workloads import checksum, same_checksum

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

#: per-layer counts that must repeat exactly for one seed. Left out:
#: jvm.gc_count (when the collector runs depends on timing) and
#: sink.bytes_out (row order inside a shuffled output, and so its
#: compressed size, varies by a few hundred bytes).
EXACT_COUNTS = (
    "catalog.read_parquet_calls", "sink.spark_writes", "sink.first_pass_files",
    "sink.empty_checks", "sink.files_out", "sink.row_groups_out",
    "spark.jobs", "spark.stages", "spark.tasks",
)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_follows_the_contract():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert s["command"][:2] == ["python3", "perfbench/run.py"]
    assert s["paths"] == ["perfbench"]
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60
    # a full measurement (4 + 22 runs per workload) has 3,420 s; runs of
    # about a minute leave room for two workloads
    assert 4 + 22 * len(s["workloads"]) <= 3420 / 50
    names = [w["name"] for w in s["workloads"]] + [
        m["name"] for m in s["end_to_end"] + s["per_layer"]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names), names
    for w in s["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and UNIT.match(m["unit"])


def test_self_time_subtracts_children_and_counts_first_pass():
    spans = [
        {"name": "op.x", "op": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"name": "sink.write", "op": 1, "parent": 0, "start": 1.0, "end": 9.0},
        {"name": "sink.spark_write", "op": 1, "parent": 1, "start": 2.0, "end": 5.0, "files": 7},
        {"name": "sink.spark_write", "op": 1, "parent": 1, "start": 5.0, "end": 6.0, "files": 2},
    ]
    assert trace.self_times(spans) == [2.0, 4.0, 3.0, 1.0]
    s = trace.summarize(spans, n_ops=2)
    assert s["self.op_s"] == 1.0
    assert s["self.sink_s"] == 4.0  # (4 + 3 + 1) / 2 ops
    assert s["sink.spark_write#"] == 1.0
    assert s["first_pass_files"] == 3.5  # only the first write of the sink call


def test_tracer_wraps_and_restores():
    class Owner:
        def call(self, x):
            return x + 1

    t = trace.Tracer()
    orig = Owner.call
    t.wrap(Owner, "call", "engine.call")
    assert Owner().call(1) == 2
    t.restore()
    assert Owner.call is orig
    assert [s["name"] for s in t.spans] == ["engine.call"]


def test_metrics_keep_the_op_mix_whatever_the_op_count():
    from perfbench.worker import Sample, end_to_end

    cycle = [Sample("a", 2.0, rows=100, bytes=1000), Sample("b", 4.0, rows=300, bytes=600)]
    slow_a = Sample("a", 9.0, rows=100, bytes=1000)  # a burst of load slowed it down
    m = end_to_end(cycle + cycle + [slow_a], setup_s=1.0)
    assert m["rows_per_s"] == 400 / 6.0
    assert m["op_p50_s"] == 3.0  # median of the kinds' medians, 2 s and 4 s
    assert m["out_bytes_per_row"] == 1600 / 400


def test_measure_stops_before_an_op_would_overrun(monkeypatch):
    from perfbench import worker
    from perfbench.workloads import Delivery

    clock = [0.0]
    monkeypatch.setattr(worker, "perf_counter", lambda: clock[0])

    class Ctx:
        def quiesce(self):
            pass

    class Op:
        def __init__(self, kind, secs):
            self.kind, self.secs = kind, secs

        def prepare(self):
            pass

        def run(self):
            clock[0] += self.secs

        def check(self, _out):
            return Delivery(rows=1, bytes=1)

    samples = worker.measure(Ctx(), [Op("a", 1.0), Op("b", 3.0)], seconds=6.5)
    # a(1) b(3) a(1) fit in 6.5 s; the next b (3 s more) would not
    assert [(s.kind, s.seconds) for s in samples] == [("a", 1.0), ("b", 3.0), ("a", 1.0)]
    assert all(s.ok for s in samples)


def test_checksum_ignores_row_order_but_not_values():
    con = duckdb.connect()
    a = pa.table({"k": [1, 2, 3], "s": ["x", "y", None], "d": [1.5, 2.5, 3.5]})
    b = a.take([2, 0, 1])
    c = pa.table({"k": [1, 2, 3], "s": ["x", "z", None], "d": [1.5, 2.5, 3.5]})
    sums = []
    for name, tbl in (("a", a), ("b", b), ("c", c)):
        con.register(name, tbl)
        sums.append(checksum(con, name))
    assert same_checksum(sums[0], sums[1])
    assert not same_checksum(sums[0], sums[2])


def test_inputs_depend_only_on_the_seed(tmp_path):
    gen.generate(5, str(tmp_path / "a"))
    gen.generate(5, str(tmp_path / "b"))
    gen.generate(6, str(tmp_path / "c"))
    read = lambda d, t: (tmp_path / d / f"{t}.parquet").read_bytes()  # noqa: E731
    for t in ("lineitem", "documents", "roundtrip"):
        assert read("a", t) == read("b", t)
        assert read("a", t) != read("c", t)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "export", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert not any(line.startswith("{") for line in p.stdout.splitlines())


def run_bench(workload: str, seed: int, traced: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(traced)],
        cwd=ROOT, capture_output=True, text=True, timeout=200,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return result


def assert_matches_spec(result: dict, section: str) -> None:
    want = {m["name"]: m["unit"] for m in spec()[section]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


@pytest.mark.slow
def test_end_to_end_names_units_and_percentiles():
    result = run_bench("db_roundtrip", 7, 0)
    assert_matches_spec(result, "end_to_end")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(v > 0 for v in m.values())
    # no tail percentile is published; any that is must not undercut p50
    for k, v in m.items():
        if re.search(r"_p\d+_s$", k):
            assert v >= m["norm_op_p50_s"], k


@pytest.mark.slow
def test_traced_counts_repeat_for_one_seed():
    first = run_bench("export", 8, 1)
    second = run_bench("export", 8, 1)
    assert_matches_spec(first, "per_layer")
    for name in EXACT_COUNTS:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    assert first["metrics"]["trace.overhead_ratio"]["value"] > 0
