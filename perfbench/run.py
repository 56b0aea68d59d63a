"""Benchmark: one workload, one seed, one closed loop with one client.

    python3 perfbench/run.py --workload tile_join --seed 1 --seconds 10 \
        --trace 0 [--size full|smoke]

Generates the inputs from the seed in a separate process, starts one
``local[nproc]`` Spark session with a fixed heap, runs the workload's set-up
(the package's own ingest and index builds), then runs rounds: a round
runs every operation type a fixed number of times, interleaved. A first,
cold round runs one operation of each type; after it, every round runs the
full mix. The first round that is no more than 10% faster than the one
before it (by the sum over types of each type's median wall) is steady
and starts the timed phase; every round before it is warm-up. The timed
phase runs whole rounds, at least two, until ``--seconds`` have passed.
Each operation is timed until a ``write.format("noop")`` sink has consumed
all of its output. Its output fingerprint is observed during that write and
compared with a numpy twin after the timed phase.

``--trace 0`` prints the end-to-end metrics:

- ``setup_s``: process start to the first timed operation, input
  generation excluded;
- ``rows_per_s``: input rows over the median wall of the workload's
  throughput types (``tile_join``: points through the spatial join;
  ``selective_query``: rows appended);
- ``op_p50_ms``: geometric mean over the workload's latency types (the
  other types) of each type's median wall;
- ``peak_rss_mb``: peak PSS of the whole process tree;
- ``stored_bytes_per_input_byte``: bytes on disk over input bytes written.

``--trace 1`` alternates untraced and traced rounds, starting and ending
untraced, and prints the per-layer metrics: build, Catalyst planning (the
write's own phases, from a query execution listener) and execution time
per operation, calls into the cell and strategy layers made from here,
Spark's own per-operator SQL metrics, jobs, files written, GC and CPU time.
The last line of standard output is one JSON object; a full record of the
run goes to ``perfbench/records/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import twins  # noqa: E402
import workloads as W  # noqa: E402
from inputs import SIZES  # noqa: E402
from probes import (CatalystPhases, PeakRss, SqlMetrics,  # noqa: E402
                    drain, gc_ms, parquet_sizes, tree_cpu_s, tree_pids)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RECORDS = os.path.join(HERE, "records")

# two timed rounds at least: a fixed round count keeps the operation mix
# the same from run to run
TIMED_MIN_ROUNDS = 2
# warm-up ends at the first round no more than 10% faster than the one
# before it; a round that starts after WARMUP_MAX_S of warm-up is timed
WARMUP_STEADY = 0.10
WARMUP_MAX_S = 20.0
INPUT_CACHE_KEEP = 3
HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------- inputs

def ensure_inputs(seed: int, size: str) -> str:
    """Generated inputs for (size, seed), cached in the benchmark's own
    directory and made by a separate process, so generation is neither
    timed nor left as garbage in the measured process."""
    cache = os.path.join(WORK, "inputs")
    out = os.path.join(cache, f"{size}-{seed}")
    if not os.path.isdir(out):
        os.makedirs(cache, exist_ok=True)
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                        "--out", out, "--seed", str(seed), "--size", size],
                       check=True, timeout=170)
    os.utime(out)
    old = sorted((e for e in os.listdir(cache) if not e.endswith(".tmp")),
                 key=lambda e: os.path.getmtime(os.path.join(cache, e)))
    for e in old[:-INPUT_CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)
    return out


# ---------------------------------------------------------------- session

def start_spark(run_dir: str):
    from pyspark.sql import SparkSession

    n = nproc()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM spark-submit starts, the launcher too, keeps its temporary
    # files in the benchmark directory and writes no hsperfdata to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    java_opts = (f"-Xms{HEAP} -XX:+UseG1GC -XX:ParallelGCThreads={n} "
                 f"-XX:ConcGCThreads={max(1, n // 4)}")
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.driver.memory", HEAP)
             .config("spark.driver.extraJavaOptions", java_opts)
             .config("spark.local.dir", os.path.join(run_dir, "local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(run_dir, "warehouse"))
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, close the JVM gateway and wait for the JVM and
    every Python worker it started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    me = os.getpid()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.2)


def host_probe(spark) -> dict:
    """A fixed amount of work that touches neither the package nor the
    inputs: drift in it between sets of runs belongs to the host."""
    import numpy as np

    a = np.arange(2_000_000, dtype=np.float64)
    t = time.perf_counter()
    for _ in range(20):
        a = np.sqrt(a * a + 1.0)
    numpy_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(20_000_000).selectExpr("sum(id * 3 % 7)").collect()
    jvm_s = time.perf_counter() - t
    return {"numpy_s": numpy_s, "jvm_range_sum_s": jvm_s}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


# ------------------------------------------------------------- operations

class Runner:
    """Runs one operation: build, noop write, and keeps what it needs to
    check the output after the timed phase.

    A traced operation waits for Spark's listener bus between the build
    and the write and after the write, outside its timed interval, so the
    Catalyst phases, SQL metrics and jobs read afterwards are complete
    and belong to that operation alone."""

    def __init__(self, spark, trace_probes: bool):
        self.spark = spark
        self.done = []  # (op name, call, fingerprint or None, record)
        self.sql = SqlMetrics(spark) if trace_probes else None
        self.catalyst = CatalystPhases(spark) if trace_probes else None
        self.uid = 0

    def run(self, name: str, call, traced: bool) -> dict:
        from pyspark.sql import Observation

        sc = self.spark.sparkContext
        self.uid += 1
        group = f"perfbench-{self.uid}"
        sc.setJobGroup(group, name)
        rec = {"op": name, "traced": traced, "input_rows": call.input_rows,
               "t_start": time.perf_counter()}
        if traced:
            drain(self.spark)
            self.sql.collect()  # drop executions of the untimed prep
            self.catalyst.take()
            files0 = parquet_sizes(call.written)
            gc0, cpu0 = gc_ms(self.spark), tree_cpu_s(os.getpid())
        obs = Observation(group)
        try:
            t0 = time.perf_counter()
            df = call.build()
            if call.execute is None:
                df = df.observe(obs, *twins.fingerprint_expr(*call.fp_cols))
            t1 = time.perf_counter()
            if traced:
                drain(self.spark)
                build_catalyst = self.catalyst.take()
            t2 = time.perf_counter()
            if call.execute is not None:
                call.execute(df)
            else:
                df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            if call.check is not None:
                got = call.check()
            else:
                m = obs.get
                got = (int(m["rows"]), int(m["hashsum"]))
        except Exception as e:  # counted as a failed operation
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc(file=sys.stderr)
            self.done.append((name, call, None, rec))
            return rec
        finally:
            sc.setJobGroup("perfbench-idle", "")
        build_ms, write_ms = (t1 - t0) * 1e3, (t3 - t2) * 1e3
        rec.update(wall_ms=build_ms + write_ms, build_ms=build_ms,
                   rows_out=got[0])
        if traced:
            drain(self.spark)
            # the write's own Catalyst phases: it plans the frame again,
            # so planning it here first would count that work twice
            plan_ms, n_exec = self.catalyst.take()
            rec.update(plan_ms=plan_ms, exec_ms=write_ms - plan_ms,
                       executions=n_exec,
                       build_catalyst_ms=build_catalyst[0])
            rec["gc_ms"] = gc_ms(self.spark) - gc0
            rec["cpu_s"] = tree_cpu_s(os.getpid()) - cpu0
            rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            rec.update(self.sql.collect())
            files1 = parquet_sizes(call.written)
            rec["sources.files_written"] = len(set(files1) - set(files0))
            rec["sources.bytes_written"] = sum(
                files1[f] for f in set(files1) - set(files0))
            for key, fn in (("cells.cover_ms", call.cover),
                            ("plans.decide_ms", call.decide)):
                rec[key] = _time_ms(fn) if fn is not None else 0.0
        self.done.append((name, call, got, rec))
        return rec


def _time_ms(fn) -> float:
    t = time.perf_counter()
    fn()
    return (time.perf_counter() - t) * 1e3


def run_round(runner, wl, traced: bool, reps: dict,
              index: dict) -> list[dict]:
    """One round: every operation type ``reps[type]`` times, the
    repetitions interleaved so drift over the run hits every type alike.
    Each type takes its parameters from the next value of ``index[type]``.
    """
    out = []
    for j in range(max(reps.values())):
        for name, make in wl.ops.items():
            if j < reps[name]:
                out.append(runner.run(name, make(index[name]), traced))
                index[name] += 1
    return out


def round_ms(recs: list[dict]) -> float:
    return sum(r.get("wall_ms", float("inf")) for r in recs)


def type_ms(recs: list[dict]) -> float:
    """Sum over operation types of each type's median wall: comparable
    between rounds that run the types a different number of times."""
    walls: dict[str, list[float]] = {}
    for r in recs:
        walls.setdefault(r["op"], []).append(r.get("wall_ms", float("inf")))
    return sum(statistics.median(v) for v in walls.values())


def warm_up(runner, wl) -> tuple[list[dict], dict, dict]:
    """Runs the cold round, then full rounds until one is steady: no more
    than WARMUP_STEADY faster than the round before it, or started after
    WARMUP_MAX_S of warm-up. That round is the first timed one. Returns
    its records, the next parameter index of every type, and what the
    warm-up did. Parameter indices run on through warm-up and timed
    rounds, so no query, and no fresh region set, repeats in a run."""
    index = dict.fromkeys(wl.ops, 0)
    t0 = time.perf_counter()
    walls = [type_ms(run_round(runner, wl, False,
                               dict.fromkeys(wl.ops, 1), index))]
    while True:
        started = time.perf_counter() - t0
        n_before = len(runner.done)
        recs = run_round(runner, wl, False, wl.reps, index)
        wall = type_ms(recs)
        steady = wall >= (1 - WARMUP_STEADY) * walls[-1]
        if steady or started > WARMUP_MAX_S:
            info = {"rounds": len(walls), "steady": steady, "s": started,
                    "type_ms": walls, "first_timed_type_ms": wall,
                    "ops": n_before}
            return recs, index, info
        walls.append(wall)


# ---------------------------------------------------------------- metrics

def _med(recs, key) -> float:
    vals = [r.get(key, 0.0) for r in recs]
    return float(statistics.median(vals)) if vals else 0.0


def end_to_end(wl, timed: list[dict], setup_s: float, rss_mb: float,
               stored: tuple[int, int]) -> dict:
    """``rows_per_s`` and ``op_p50_ms`` come from disjoint operation
    types: throughput from the workload's throughput types (their input
    rows over their median walls), latency from its latency types (the
    geometric mean of each type's median, so every type weighs alike and
    a plain median of the mix cannot jump between two types). A type
    whose every operation failed drops out; those count as failed."""
    ok = [r for r in timed if "wall_ms" in r]
    walls, rows = {}, {}
    for r in ok:
        walls.setdefault(r["op"], []).append(r["wall_ms"])
        rows[r["op"]] = r["input_rows"]
    med = {o: statistics.median(v) for o, v in walls.items()}
    thr = [o for o in wl.throughput if o in med]
    rows_per_s = sum(rows[o] for o in thr) / (sum(med[o] for o in thr) / 1e3)
    p50 = statistics.geometric_mean(med[o] for o in wl.latency if o in med)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "rows_per_s": {"value": rows_per_s, "unit": "1/s"},
        "op_p50_ms": {"value": p50, "unit": "ms"},
        "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
        "stored_bytes_per_input_byte": {"value": stored[0] / stored[1],
                                        "unit": "ratio"},
    }


def per_layer(traced: list[dict], untraced: list[dict]) -> tuple[dict, dict]:
    """Per-layer metrics per round of one operation of each type: the sum
    over types of each type's median, and ratios of totals."""
    ops = sorted({r["op"] for r in traced})
    by = {o: [r for r in traced if r["op"] == o and "wall_ms" in r]
          for o in ops}
    unt = {o: [r for r in untraced if r["op"] == o and "wall_ms" in r]
           for o in ops}
    per_op = {o: {k: _med(by[o], k) for k in
                  ("wall_ms", "build_ms", "plan_ms", "exec_ms", "rows_out",
                   "jobs", "executions", "build_catalyst_ms",
                   "cells.cover_ms", "plans.decide_ms")}
              | {"untraced_wall_ms": _med(unt[o], "wall_ms"),
                 "n_traced": len(by[o]), "n_untraced": len(unt[o])}
              for o in ops}

    def rsum(key):
        return sum(_med(by[o], key) for o in ops)

    def ratio(num, den):
        """Ratio of totals over the operations that have the numerator."""
        recs = [r for o in ops for r in by[o] if r.get(num, 0.0) > 0]
        d = sum(r.get(den, 0.0) for r in recs)
        return sum(r[num] for r in recs) / d if d else 0.0

    wall_t = rsum("wall_ms")
    wall_u = sum(p["untraced_wall_ms"] for p in per_op.values())
    layers = rsum("build_ms") + rsum("plan_ms") + rsum("exec_ms")
    m = {
        "round.wall_ms": (wall_u, "ms"),
        "build_ms": (rsum("build_ms"), "ms"),
        "plan_ms": (rsum("plan_ms"), "ms"),
        "exec_ms": (rsum("exec_ms"), "ms"),
        "layers.sum_over_wall": (layers / wall_u if wall_u else 0.0,
                                 "ratio"),
        "trace.overhead_ms": (wall_t - wall_u, "ms"),
        "cells.cover_ms": (rsum("cells.cover_ms"), "ms"),
        "plans.decide_ms": (rsum("plans.decide_ms"), "ms"),
        "scan.files_read_frac": (ratio("scan.files_read",
                                       "scan.files_total"), "ratio"),
        "scan.rows_per_row_out": (ratio("scan.rows", "rows_out"), "ratio"),
        "python.rows": (rsum("python.rows"), "count"),
        "join.candidates_per_row_out": (ratio("join.rows", "rows_out"),
                                        "ratio"),
        "exchange.bytes": (rsum("exchange.bytes"), "B"),
        "spill.bytes": (rsum("spill.bytes"), "B"),
        "jobs": (rsum("jobs"), "count"),
        "sources.files_written": (rsum("sources.files_written"), "count"),
        "sources.bytes_written": (rsum("sources.bytes_written"), "B"),
        "gc_ms": (rsum("gc_ms"), "ms"),
        "cpu_s": (rsum("cpu_s"), "s"),
    }
    return ({k: {"value": float(v), "unit": u} for k, (v, u) in m.items()},
            per_op)


# ------------------------------------------------------------------- main

def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="full")
    return ap.parse_args(argv)


def main(argv) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import geomesa_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the package under test: {e}", file=sys.stderr)
        return 2

    if args.workload not in W.WORKLOADS or args.size not in SIZES:
        print(f"unknown workload {args.workload!r} or size {args.size!r}",
              file=sys.stderr)
        return 2
    _remove_stale_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _remove_stale_runs() -> None:
    """Scratch directories of runs whose process is gone."""
    if not os.path.isdir(WORK):
        return
    for e in os.listdir(WORK):
        if e.startswith("run-") and not os.path.exists(f"/proc/{e[4:]}"):
            shutil.rmtree(os.path.join(WORK, e), ignore_errors=True)


def _run(args, run_dir: str) -> int:

    # Python's temp files (the shipped package zip among them) stay in
    # the benchmark's own directory
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    import tempfile
    tempfile.tempdir = None

    t_gen = time.perf_counter()
    in_dir = ensure_inputs(args.seed, args.size)
    gen_s = time.perf_counter() - t_gen
    inp = W.Inputs(in_dir, args.seed, SIZES[args.size])

    from geomesa_spark.shipping import ship_package

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "size": args.size, "nproc": nproc(), "heap": HEAP,
              "input_gen_s": gen_s}
    spark = None
    try:
        with PeakRss(os.getpid()) as rss:
            t = time.perf_counter()
            spark = start_spark(run_dir)
            ship_package(spark)
            record["session_s"] = time.perf_counter() - t
            wl = W.WORKLOADS[args.workload](spark, inp, run_dir)
            t = time.perf_counter()
            wl.setup()
            record["setup_build_s"] = time.perf_counter() - t
            runner = Runner(spark, trace_probes=bool(args.trace))
            ticks0 = cpu_ticks()
            recs, index, record["warmup"] = warm_up(runner, wl)
            n_warm_recs = record["warmup"]["ops"]
            # the first timed round started where the warm-up ended
            t_first = recs[0]["t_start"]
            setup_s = t_first - T_PROCESS - gen_s
            timed, traced_recs = list(recs), []
            untraced_recs = list(recs)
            record["round_ms"] = [round_ms(recs)]
            rnd = 1
            # traced runs bracket every traced round between untraced
            # ones, so warm-up drift does not read as tracing overhead
            min_rounds = TIMED_MIN_ROUNDS + args.trace
            while True:
                traced = bool(args.trace) and rnd % 2 == 1
                recs = run_round(runner, wl, traced, wl.reps, index)
                timed += recs
                record["round_ms"].append(round_ms(recs))
                (traced_recs if traced else untraced_recs).extend(recs)
                rnd += 1
                if (rnd >= min_rounds
                        and time.perf_counter() - t_first >= args.seconds
                        and not traced):
                    break
            record["timed_s"] = time.perf_counter() - t_first
            ticks1 = cpu_ticks()
            record["host_steal_frac"] = ((ticks1[0] - ticks0[0])
                                         / max(1, ticks1[1] - ticks0[1]))
            print(f"session {record['session_s']:.1f}s build "
                  f"{record['setup_build_s']:.1f}s warm-up "
                  f"{record['warmup']} timed {record['timed_s']:.1f}s",
                  file=sys.stderr)
            record["host_probe"] = host_probe(spark)
            stored = wl.stored()
        t = time.perf_counter()
        stop_spark(spark)
        spark = None
        record["stop_s"] = time.perf_counter() - t
    finally:
        if spark is not None:
            stop_spark(spark)

    # correctness, after the timed phase: every operation, warm-up included
    failures = []
    for i, (name, call, got, rec) in enumerate(runner.done):
        want = call.twin() if got is not None else None
        if got is None or tuple(got) != tuple(want):
            failures.append({"op": name, "timed": i >= n_warm_recs,
                             "got": got, "want": want,
                             "error": rec.get("error")})
    failed = sum(f["timed"] for f in failures)
    if args.trace:
        metrics, per_op = per_layer(traced_recs, untraced_recs)
        record["per_op"] = per_op
    else:
        metrics = end_to_end(wl, timed, setup_s, rss.mb, stored)
    record.update(setup_s=setup_s, peak_rss_mb=rss.mb, stored=stored,
                  warmup_ops=[d[3] for d in runner.done[:n_warm_recs]],
                  ops=timed, failures=failures, metrics=metrics)
    record["process_s"] = time.perf_counter() - T_PROCESS
    os.makedirs(RECORDS, exist_ok=True)
    name = (f"{time.strftime('%Y%m%dT%H%M%S', time.gmtime())}-"
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(os.path.join(RECORDS, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": not failures,
                      "attempted": len(timed), "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
