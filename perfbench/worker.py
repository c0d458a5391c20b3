"""One measured run, in the fresh process ``run.py`` starts for it.

``python3 -m perfbench.worker '<json config>'`` with the environment run.py
pins. Steps: start the session, register the inputs, run every op once as
an untimed warm-up, then time the ops in their seeded cyclic order until at
least one whole cycle ran and the next op would overrun ``seconds`` of op
time. With tracing on, one more whole cycle runs with every layer wrapped,
and the per-layer numbers come from that pass. The result goes to the JSON file
named in the config.
"""

from time import perf_counter

T0 = perf_counter()

import functools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from dataclasses import dataclass  # noqa: E402


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_T0 = process_age()


@dataclass
class Sample:
    kind: str
    seconds: float
    #: wall-clock start of the timed call, for run.py's memory windows
    start: float = 0.0
    rows: int = 0
    bytes: int = 0
    ok: bool = False


def attempt(ctx, op, probe=None) -> tuple[object, float, float, bool]:
    """prepare, then the timed call: (output, seconds, wall-clock start,
    returned normally)."""
    op.prepare()
    ctx.quiesce()
    if probe is not None:
        probe.begin(op)
    wall, t = time.time(), perf_counter()
    try:
        if probe is not None:
            with ctx.tracer.span(f"op.{op.kind}"):
                out = op.run()
        else:
            out = op.run()
    except Exception:  # noqa: BLE001 - an op failure is counted, not fatal
        traceback.print_exc()
        return None, perf_counter() - t, wall, False
    return out, perf_counter() - t, wall, True


def finish(op, out, seconds: float, wall: float, ran: bool, probe=None) -> Sample:
    """The untimed output check; a failure anywhere is a failed op."""
    sample = Sample(op.kind, seconds, wall)
    if not ran:
        return sample
    try:
        d = op.check(out)
    except Exception:  # noqa: BLE001 - a failed check is counted, not fatal
        traceback.print_exc()
        return sample
    if probe is not None:
        probe.end(d)
    sample.rows, sample.bytes, sample.ok = d.rows, d.bytes, True
    return sample


def execute(ctx, op, probe=None) -> Sample:
    return finish(op, *attempt(ctx, op, probe), probe=probe)


def warm_up(ctx, ops) -> list:
    """Run every op once, all concurrently (each writes to its own output;
    this halves the set-up time of running them in turn).
    Returns (op, output, seconds, start, ran) tuples for :func:`finish` to check."""
    with ThreadPoolExecutor(len(ops)) as pool:
        results = list(pool.map(lambda op: attempt(ctx, op), ops))
    return [(op, *r) for op, r in zip(ops, results)]


def measure(ctx, ops, seconds: float, count: int = 0, probe=None) -> list[Sample]:
    """Ops in the seeded cyclic order: ``count`` of them, or one whole cycle
    and then every further op that, at its kind's last time, still ends
    within ``seconds`` of op time."""
    samples: list[Sample] = []
    last: dict[str, float] = {}
    spent = 0.0
    while True:
        op = ops[len(samples) % len(ops)]
        if count:
            if len(samples) == count:
                break
        elif len(samples) >= len(ops) and spent + last[op.kind] > seconds:
            break
        s = execute(ctx, op, probe)
        print(f"perfbench op {s.kind} {s.seconds:.3f}s", file=sys.stderr)
        samples.append(s)
        last[s.kind] = s.seconds
        spent += s.seconds
    return samples


class Probe:
    """Per-op counters at the op boundary of the traced pass: Spark's
    scheduler (statusTracker, by job group), the JVM's collectors (JMX),
    the DBAPI time accumulator and the sink's footer audit."""

    COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "jvm.gc_s",
                "jvm.gc_count", "writeback.db_s", "sink.files_out",
                "sink.row_groups_out", "sink.bytes_out")

    def __init__(self, ctx, db_acc) -> None:
        self.ctx = ctx
        self.sc = ctx.spark.sparkContext
        self.db_acc = db_acc
        self.totals = dict.fromkeys(self.COUNTERS, 0.0)
        self.n_ops = 0

    def _gc(self) -> tuple[float, int]:
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        ms = count = 0
        for bean in mf.getGarbageCollectorMXBeans():
            ms += bean.getCollectionTime()
            count += bean.getCollectionCount()
        return ms / 1000.0, count

    def begin(self, op) -> None:
        self.n_ops += 1
        self.group = f"perfbench-op-{self.n_ops}"
        self.ctx.tracer.op_id = self.n_ops
        self.sc.setJobGroup(self.group, op.kind)
        self.gc0 = self._gc()
        self.db0 = self.db_acc.value

    def end(self, d) -> None:
        gc1 = self._gc()
        st = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = st.getJobIdsForGroup(self.group)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        add = {
            "spark.jobs": len(jobs),
            "spark.stages": stages,
            "spark.tasks": tasks,
            "jvm.gc_s": gc1[0] - self.gc0[0],
            "jvm.gc_count": gc1[1] - self.gc0[1],
            "writeback.db_s": self.db_acc.value - self.db0,
            "sink.files_out": d.files,
            "sink.row_groups_out": d.row_groups,
            "sink.bytes_out": d.bytes if d.files else 0,
        }
        for k, v in add.items():
            self.totals[k] += v


def kind_medians(samples: list[Sample]) -> dict[str, tuple[float, float, float]]:
    """Per op kind: median (rows, bytes, seconds) over the kind's samples.

    A run ends before the op that would overrun its time budget, so some
    kinds may hold one sample more than others; per-kind medians keep the
    op mix, and with it the metrics, the same whatever the op count, and
    drop the op a burst of load on the host slowed down."""
    kinds: dict[str, list[Sample]] = {}
    for s in samples:
        kinds.setdefault(s.kind, []).append(s)
    return {k: tuple(statistics.median(getattr(s, f) for s in v)
                     for f in ("rows", "bytes", "seconds"))
            for k, v in kinds.items()}


def rows_per_s(samples: list[Sample]) -> float:
    """Rows of one cycle of the op list per second of a cycle at the median
    time of each op kind."""
    med = kind_medians(samples).values()
    return sum(m[0] for m in med) / sum(m[2] for m in med)


def end_to_end(samples: list[Sample], setup_s: float) -> dict[str, float]:
    med = kind_medians(samples).values()
    return {
        "setup_s": setup_s,
        "rows_per_s": rows_per_s(samples),
        "op_p50_s": statistics.median(m[2] for m in med),
        "out_bytes_per_row": sum(m[1] for m in med) / max(sum(m[0] for m in med), 1),
    }


def per_layer(spans_summary: dict, probe: Probe, setup: dict, overhead: float) -> dict:
    from perfbench.trace import SELF_LAYERS

    g = lambda k: spans_summary.get(k, 0.0)  # noqa: E731
    n = max(probe.n_ops, 1)
    out = {
        "session.start_s": setup["session"],
        "catalog.register_s": setup["register"],
        "catalog.read_parquet_calls": g("catalog.read_parquet#"),
        "engine.query_s": g("engine.query_s"),
        "mappings.apply_s": g("mappings.apply_s"),
        "sink.write_s": g("sink.write_s"),
        "sink.spark_write_s": g("sink.spark_write_s"),
        "sink.spark_writes": g("sink.spark_write#"),
        "sink.first_pass_files": g("first_pass_files"),
        "sink.empty_checks": g("sink.empty_check#"),
        "sink.empty_check_s": g("sink.empty_check_s"),
        "sink.finalize_s": g("sink.write_s") - g("sink.spark_write_s") - g("sink.empty_check_s"),
        "sink.stdout_s": g("sink.stdout_s"),
        "writeback.insert_s": g("writeback.insert_s"),
        "writeback.exec_s": g("writeback.exec_s"),
        "queries.build_s": g("queries.build_s"),
        "queries.execute_s": g("queries.execute_s"),
        "trace.overhead_ratio": overhead,
    }
    out.update({k: v / n for k, v in probe.totals.items()})
    out.update({f"self.{layer}_s": g(f"self.{layer}_s") for layer in SELF_LAYERS})
    return out


def main(cfg: dict) -> int:
    from odbc2parquet_spark.catalog import register_tables
    from odbc2parquet_spark.session import get_spark

    from perfbench import trace
    from perfbench.workloads import WORKLOADS, Context, op_list

    t = perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup = {"session": perf_counter() - t}
    t = perf_counter()
    workload = WORKLOADS[cfg["workload"]]
    register_tables(spark, cfg["inputs"], workload.tables)
    setup["register"] = perf_counter() - t

    ctx = Context(spark, cfg["inputs"], cfg["work"], cfg["seed"])
    ops = op_list(ctx, cfg["workload"])
    warmed = warm_up(ctx, ops)
    setup_s = AGE_AT_T0 + perf_counter() - T0
    warm = [finish(*w) for w in warmed]
    print(f"perfbench setup: {setup_s:.2f}s (session {setup['session']:.2f}s, register "
          f"{setup['register']:.2f}s, warm-up "
          + ", ".join(f"{s.kind} {s.seconds:.2f}s" for s in warm) + ")", file=sys.stderr)

    samples = measure(ctx, ops, cfg["seconds"])
    done = warm + samples
    if cfg["trace"]:
        ctx.tracer = trace.Tracer()
        acc = spark.sparkContext.accumulator(0.0)
        ctx.connect = lambda path: functools.partial(trace.timed_sqlite, path, acc)
        probe = Probe(ctx, acc)
        trace.install(ctx.tracer)
        try:
            traced = measure(ctx, ops, cfg["seconds"], count=len(ops), probe=probe)
        finally:
            ctx.tracer.restore()
        done += traced
        summary = trace.summarize(ctx.tracer.spans, probe.n_ops)
        metrics = per_layer(summary, probe, setup,
                            rows_per_s(traced) / rows_per_s(samples))
        with open(cfg["trace_file"], "w") as f:
            json.dump({"spans": ctx.tracer.spans, "counters": probe.totals,
                       "ops": probe.n_ops, "metrics": metrics}, f)
    else:
        metrics = end_to_end(samples, setup_s)
    spark.stop()

    failed = sum(not s.ok for s in done)
    result = {
        "correct": failed == 0,
        "attempted": len(done),
        "failed": failed,
        "timed_ops": len(samples),
        "ok_ratio": (len(done) - failed) / len(done),
        "windows": [(s.kind, s.start, s.start + s.seconds) for s in samples],
        "per_kind_s": {k: m[2] for k, m in kind_medians(samples).items()},
        "metrics": metrics,
    }
    with open(cfg["result"], "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(json.loads(sys.argv[1])))
