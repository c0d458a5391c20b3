"""Benchmark entry point; run it from the repository root.

    python3 perfbench/run.py --workload export --seed 1 --seconds 10 --trace 0

Generates (or reuses) the seed's inputs under ``.perfbench/inputs``, starts
one fresh worker process with a pinned environment, samples the resident
memory of that process tree and the host's speed while it runs, stops every
process it started, and prints the result as
the last line of standard output: ``{"correct", "attempted", "failed",
"metrics"}``. ``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` its per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
#: everything a run leaves behind lives under here (gitignored)
STATE = os.path.join(ROOT, ".perfbench")
#: a run must end within this many seconds, input generation included
DEADLINE_S = 170
CPU_CAP = 4
#: iterations of the host probe's loop, and the probe time of the reference
#: host the normalized metrics are scaled to (about this loop's time on an
#: unloaded core of the 4-core box the benchmark was built on)
PROBE_LOOPS = 20_000
PROBE_REF_S = 1.0e-3
DRIVER_MEM = "4g"


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def spark_cpus() -> int:
    """Half the usable cores, at least one and at most CPU_CAP: the other
    half runs the JVM's collector and compiler threads, the driver and the
    Python workers, so that Spark's tasks do not wait for a core."""
    return max(1, min(len(os.sched_getaffinity(0)) // 2, CPU_CAP))


def pinned_env(run_dir: str) -> dict[str, str]:
    """The worker's environment: core count, heap, import path and every
    scratch directory fixed; inherited knobs that alter the session dropped."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_", "SPARK_"))
           and k not in ("PYTHONPATH", "_JAVA_OPTIONS", "JAVA_TOOL_OPTIONS")}
    env.update({
        "SPARK_GRAFT_CPUS": str(spark_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_EXTRA_CONF": (
            f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')};"
            f"spark.local.dir={local};"
            # -Xms at the heap limit: a full collection then never hands
            # heap back to the system, so the resident set does not swing
            # with the timing of the collections (see Sampler). Spark
            # puts these options before the session's own extra options.
            f"spark.driver.defaultJavaOptions=-Xms{DRIVER_MEM}"
        ),
        "SPARK_LOCAL_DIRS": local,
        # the Python workers import the package (and perfbench) from here
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    return env


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def group_members(pgid: int) -> list[str]:
    """Live processes of a process group (the worker, its JVM, Python workers)."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            # st[0] is the state, st[2] the process group
            if st is not None and st[0] != "Z" and int(st[2]) == pgid:
                out.append(pid)
    return out


class Sampler(threading.Thread):
    """Every 0.2 s: the resident memory of the worker, its JVM and the
    Python workers together, and the time of the host probe.

    Short-lived helpers the JVM forks (chmod, bash) are not counted in the
    memory: a fork briefly reports the JVM's own pages as its resident set.

    The host probe is a fixed pure-Python loop. On a shared host the speed
    of a core drifts by a quarter over minutes, with other tenants' load;
    the probe, timed in this process while the worker's ops run, measures
    that drift, so that op times can be scaled to a host of fixed speed
    (:meth:`probe_s`)."""

    def __init__(self, worker: int) -> None:
        super().__init__(daemon=True)
        self.worker = worker
        #: (wall clock, kB) pairs
        self.rss: list[tuple[float, int]] = []
        #: (wall clock, seconds of one probe loop) pairs
        self.probes: list[tuple[float, float]] = []
        self.stop = threading.Event()
        #: the cores the probe visits in turn
        self.cpus = sorted(os.sched_getaffinity(0))

    @staticmethod
    def _status(pid: str) -> dict[str, str]:
        out = {}
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                key, _, value = line.partition(":")
                out[key] = value.strip()
        return out

    def sample_rss(self) -> None:
        total = 0
        for pid in group_members(self.worker):
            try:
                st = self._status(pid)
            except OSError:
                continue
            is_jvm = st["Name"] == "java" and st["PPid"] == str(self.worker)
            if (is_jvm or st["Name"].startswith("python")) and "VmRSS" in st:
                total += int(st["VmRSS"].split()[0])
        self.rss.append((time.time(), total))

    def probe(self) -> None:
        """One probe loop, on the next core in turn: Spark's threads move
        between all cores, so the probe samples all of them."""
        os.sched_setaffinity(0, {self.cpus[len(self.probes) % len(self.cpus)]})
        wall, t = time.time(), time.perf_counter()
        x = 0
        for i in range(PROBE_LOOPS):
            x += i * i
        self.probes.append((wall, time.perf_counter() - t))

    def run(self) -> None:
        while not self.stop.wait(0.2):
            self.sample_rss()
            self.probe()

    def peak_mb(self, windows: list[tuple[str, float, float]]) -> float:
        """The peak of the heaviest op kind: per timed op the highest sample
        inside its (kind, start, end) window, per kind the median of those,
        and the largest of the kinds. Peaks of single ops depend on when the
        collector last ran; the median over a kind's ops does much less."""
        kinds: dict[str, list[int]] = {}
        for kind, t0, t1 in windows:
            inside = [kb for t, kb in self.rss if t0 <= t <= t1]
            if inside:
                kinds.setdefault(kind, []).append(max(inside))
        if not kinds:
            raise RuntimeError("no memory sample fell inside a timed op")
        return max(statistics.median(v) for v in kinds.values()) / 1024.0

    def probe_s(self, windows: list[tuple[str, float, float]]) -> float:
        """Mean probe time over the probes that ran inside a timed op. An op
        takes the mean of its host's slowness over its run, not the median:
        on a host that flips between a fast and a slow mode the median
        snaps to one mode."""
        inside = [d for t, d in self.probes if any(t0 <= t <= t1 for _, t0, t1 in windows)]
        if len(inside) < 10:
            raise RuntimeError("too few host probes inside the timed ops")
        return statistics.fmean(inside)


def stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        for _ in range(50):
            if not group_members(pgid):
                return
            time.sleep(0.1)


def main(argv: list[str]) -> int:
    started = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "odbc2parquet_spark", "__init__.py")):
        return fail("odbc2parquet_spark not found: run from the repository root")
    sys.path.insert(0, ROOT)
    from perfbench import gen
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer" if args.trace else "end_to_end"]

    inputs = gen.ensure_inputs(os.path.join(STATE, "inputs"), args.seed)
    run_dir = os.path.join(STATE, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work = os.path.join(run_dir, "out")
    os.makedirs(work)
    env = pinned_env(run_dir)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": inputs,
        "work": work,
        "result": os.path.join(run_dir, "result.json"),
        "trace_file": os.path.join(STATE, "traces", f"{args.workload}-seed{args.seed}.json"),
    }
    print("perfbench env: " + json.dumps({
        k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "PYTHONPATH",
                            "SPARK_LOCAL_DIRS", "SPARK_GRAFT_EXTRA_CONF")
    }), flush=True)

    # Spark's console output goes to stderr; stdout carries only our lines
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.worker", json.dumps(cfg)],
        cwd=run_dir, env=env, stdout=sys.stderr.fileno(), start_new_session=True,
    )
    sampler = Sampler(proc.pid)
    sampler.start()
    try:
        code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
    except subprocess.TimeoutExpired:
        code = None
    finally:
        sampler.stop.set()
        sampler.join()
        stop_group(proc.pid)
        proc.wait()
    try:
        if code is None:
            return fail(f"worker exceeded the {DEADLINE_S}s deadline")
        if code != 0:
            return fail(f"worker exited with {code}")
        with open(cfg["result"]) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    values = dict(result["metrics"])
    probe_s = sampler.probe_s(result["windows"])
    if args.trace:
        values["host.probe_ms"] = probe_s * 1000.0
    else:
        raw = {k: values.pop(k) for k in ("setup_s", "rows_per_s", "op_p50_s")}
        # how much slower than the reference host this run's host was
        scale = probe_s / PROBE_REF_S
        values["setup_s"] = raw["setup_s"] / scale
        values["norm_rows_per_s"] = raw["rows_per_s"] * scale
        values["norm_op_p50_s"] = raw["op_p50_s"] / scale
        values["peak_rss_mb"] = sampler.peak_mb(result["windows"])
        values["ok_ratio"] = result["ok_ratio"]
        print(f"perfbench {args.workload} seed={args.seed}: as measured setup_s "
              f"{raw['setup_s']:.3f}, rows_per_s {raw['rows_per_s']:.1f}, op_p50_s "
              f"{raw['op_p50_s']:.4f}; host probe {probe_s * 1000:.4f} ms (reference "
              f"{PROBE_REF_S * 1000:g} ms)", flush=True)
    names = [m["name"] for m in wanted]
    if sorted(values) != sorted(names):
        return fail(f"metric names {sorted(values)} differ from BENCHMARK.json {sorted(names)}")
    print(f"perfbench {args.workload} seed={args.seed}: {result['timed_ops']} timed ops, "
          f"median per op type (s): " + json.dumps(result["per_kind_s"]), flush=True)
    print(json.dumps({
        "correct": result["correct"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
