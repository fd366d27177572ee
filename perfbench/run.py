#!/usr/bin/env python3
"""Benchmark of the recsys_mapreduce_mrjob_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload recsys_topk --seed 1 --seconds 10 --trace 0

One run: generate the workload's inputs from ``--seed``, compute the
expected results with DuckDB, start a local Spark session on every core,
run the one-time builds and warm up until operations stop getting faster,
then run operations in a closed loop (one client) for about ``--seconds``
and check every output against its expected result.  The last line of
standard output is one JSON object; with ``--trace 0`` it carries the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
window (see ``BENCHMARK.json``).  Any failed or wrong operation makes the
run exit with status 1.
"""

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

OP_TIMEOUT_S = 60.0
WARMUP_MIN, WARMUP_MAX, WARMUP_FALL = 2, 3, 0.10
WARMUP_RULE = (
    f"warm-up: at least {WARMUP_MIN} steps (a step runs every query of the "
    f"workload once), more while a step is over {WARMUP_FALL:.0%} faster than "
    f"the one before, at most {WARMUP_MAX}"
)
TAIL_BEYOND = 10


def result_metrics(kind: str) -> set[str]:
    """The metric names ``BENCHMARK.json`` lists under ``kind``: the result
    line carries these; every other metric is printed only: it reads 0 on
    every gated workload, duplicates a listed one or is too noisy to gate
    (see DESIGN.md)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)[kind]}


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def log(msg: str) -> None:
    print(msg, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def environment(work: str) -> dict[str, str]:
    """Keep every file Spark, its workers and the package write under the
    run's work directory; pin the driver heap to fit the machine."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("ENGINE_DRIVER_MEMORY", "4g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        "cores": str(cores()),
        "shuffle_partitions": str(cores()),
        "driver_memory": os.environ["ENGINE_DRIVER_MEMORY"],
        "SPARK_LOCAL_DIRS": os.path.relpath(local, ROOT),
    }


def start_session(work: str):
    from recsys_mapreduce_mrjob_spark.session import session_builder

    n = cores()
    tmp = os.path.join(work, "tmp")
    keep = "1000000"  # retained jobs/stages/executions: no counts dropped
    spark = (
        session_builder(master=f"local[{n}]", shuffle_partitions=n)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", keep)
        .config("spark.ui.retainedStages", keep)
        .config("spark.sql.ui.retainedExecutions", keep)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


WORK_DIRS: list[str] = []  # the run's work directory, once made


def on_sigterm(*_) -> None:
    """A caller's timeout: kill the driver JVM and the Python workers, wait
    for them, remove the run's work directory and exit at once.  The main
    thread may be waiting inside a py4j call for a job to end, and a
    ``SystemExit`` raised there does not reliably unwind."""
    from counters import descendants, running

    started = descendants(os.getpid())
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    for pid in started:
        try:
            while os.waitpid(pid, os.WNOHANG) == (0, 0) and time.monotonic() < deadline:
                time.sleep(0.05)
        except ChildProcessError:  # not our child: init reaps it
            while running(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
    for work in WORK_DIRS:
        shutil.rmtree(work, ignore_errors=True)
    os._exit(143)


def stop_session(spark) -> None:
    """Stop Spark, then wait until the driver JVM and every process it
    started (the Python workers) have exited."""
    from counters import descendants, running

    started = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin reaches EOF
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(map(running, started)):
        time.sleep(0.1)


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least TAIL_BEYOND samples beyond it.
    Below 2 * TAIL_BEYOND samples that percentile would not lie above the
    median, so the tail is then the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * TAIL_BEYOND:
        return xs[-1], f"the maximum (n={n}: fewer than {2 * TAIL_BEYOND} samples)"
    k = n - TAIL_BEYOND
    return xs[k - 1], f"p{100 * k / n:.1f} (n={n}, {TAIL_BEYOND} samples beyond)"


def another(elapsed: float, last: float | None, seconds: float) -> bool:
    """Whether a window of ``seconds`` starts another operation after
    ``elapsed`` seconds, the last one having taken ``last``: always a first
    one, then another while the window would end nearer to ``seconds`` with
    it than without it.  A window that instead ran until ``seconds`` had
    passed would run on for up to a whole operation: two 7 s flagship
    queries in a 10 s window, where the run's time budget affords one."""
    return last is None or elapsed + last / 2 < seconds


class Runner:
    def __init__(self, w, spark, registry, rec, counters):
        self.w, self.spark, self.registry, self.rec = w, spark, registry, rec
        self.counters = counters
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def one(self, i: int):
        """Run operation ``i``; returns ``(wall, OpResult | None)``.  An
        exception or a timeout (jobs cancelled after OP_TIMEOUT_S) is a
        failed operation."""
        sc = self.spark.sparkContext
        traced = self.rec.enabled
        gc0 = self.counters.jvm_gc_s() if traced else 0.0
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        t0 = time.monotonic()
        try:
            with self.rec.operation(i, f"op.{self.w.op_name(i)}"):
                res = self.w.op(self.spark, self.registry, i, self.rec)
            wall = time.monotonic() - t0
            if traced:  # outside the operation's span and wall
                res.layer["spark.gc_s"] = self.counters.jvm_gc_s() - gc0
                res.layer["caching.cached_bytes"] = self.counters.cached_bytes()
                self.rec.count_pending()
            return wall, res
        except Exception:
            self.errors.append(f"op {i} ({self.w.op_name(i)}):\n{traceback.format_exc()}")
            return time.monotonic() - t0, None
        finally:
            timer.cancel()

    def window(self, seconds: float):
        """Timed operations, one after another, for about ``seconds`` of
        wall: see :func:`another`."""
        out = []
        t0 = time.monotonic()
        while another(time.monotonic() - t0, out[-1][1] if out else None, seconds):
            out.append((len(out), *self.one(len(out))))
        return out, time.monotonic() - t0

    def paired_window(self, seconds: float):
        """The traced run's window: each operation runs once untraced and once
        traced, the first of the two alternating, so drift in the engine's
        speed and any gain from a repeat hit both sides alike."""
        untraced, traced = [], []
        t0 = time.monotonic()
        last = None
        while another(time.monotonic() - t0, last, seconds):
            t = time.monotonic()
            i = len(traced)
            for side in (untraced, traced) if i % 2 == 0 else (traced, untraced):
                self.rec.enabled = side is traced
                side.append((i, *self.one(i)))
            self.rec.enabled = False
            last = time.monotonic() - t
        return untraced, traced

    def check(self, ops, timed: bool) -> None:
        """Check every output of ``ops``; count timed failures."""
        for idx, _wall, res in ops:
            bad = res is None
            if res is not None:
                for c in res.checks:
                    try:
                        err = c()
                    except Exception:
                        err = traceback.format_exc()
                    if err:
                        self.errors.append(f"op {idx}: {err}")
                        bad = True
            if timed:
                self.attempted += 1
                self.failed += bad
            elif bad:
                raise RuntimeError("warm-up operation failed:\n" + "\n".join(self.errors))

    def warmup(self) -> tuple[float, list[float]]:
        t0 = time.monotonic()
        steps: list[float] = []
        i = -1
        while len(steps) < WARMUP_MAX:
            ops = []
            for _ in range(self.w.warm_unit):
                ops.append((i, *self.one(i)))
                i -= 1
            self.check(ops, timed=False)
            steps.append(sum(wall for _idx, wall, _res in ops))
            if len(steps) >= WARMUP_MIN and steps[-1] >= (1 - WARMUP_FALL) * steps[-2]:
                break
        return time.monotonic() - t0, steps


def end_to_end(ops, wall: float, setup_s: float, peak_mb: float) -> dict:
    """Every end-to-end metric.  ``rows_per_s`` is the median over the
    window's operations of input rows over operation wall, so one operation
    slowed by a burst of other load on the machine does not move it.
    ``queries_per_s`` is a fixed multiple of ``rows_per_s`` wherever every
    operation reads the same input (all workloads but ``interactive``), and
    at the few samples a run affords ``latency_tail_s`` is the maximum of a
    handful; both are printed but not gated (see DESIGN.md)."""
    good = [(w, r) for _i, w, r in ops if r is not None]
    lat = [x for _w, r in good for x in r.latencies]
    t, t_label = tail(lat)
    queries = sum(r.queries for _w, r in good)
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_s": (statistics.median(r.rows / w for w, r in good), "1/s"),
        "queries_per_s": (queries / wall, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (t, f"s, {t_label}"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(w, rec, counters, ops, setup: dict, overhead_s: float) -> dict:
    """Per-layer metrics: set-up layers once per run, everything else as a
    mean per operation of the traced window.  The dedup candidate and
    verified counts come from the near-duplicate labels build, wherever in
    the run it happened (in ``corpus_export`` it is part of set-up)."""
    from spans import self_times

    import counters as C

    counters.drain()
    stages = counters.stage_table()
    sql = counters.sql_by_job()
    own = self_times(rec.spans)
    good = {i: r for i, _w, r in ops if r is not None}
    n = max(len(good), 1)
    in_window = [s for s in rec.spans if s.op in good]
    roots = {s.op: s for s in in_window if s.name.startswith("op.")}
    tot = {i: C.totals(stages, sql, roots[i].jobs, roots[i].stages) for i in good}

    def per_op(values) -> float:
        return sum(values) / n

    def self_s(layer: str) -> float:
        return per_op(own[s.id] for s in in_window if s.layer == layer)

    def spark_mean(field: str) -> float:
        return per_op(getattr(t, field) for t in tot.values())

    def layer_mean(key: str) -> float:
        return per_op(r.layer.get(key, 0.0) for r in good.values())

    def rows(name: str, spans) -> float:
        xs = [s.attrs["rows"] for s in spans if s.name == name and "rows" in s.attrs]
        return sum(xs) / len(xs) if xs else 0.0

    def mean_dur(name: str) -> float:
        xs = [s.end - s.start for s in in_window if s.name == name]
        return sum(xs) / len(xs) if xs else 0.0

    memo = [s for s in in_window if "memo" in s.attrs]
    labels = [s for s in rec.spans if s.name == "caching.memo_process" and s.attrs["built"]]
    recsys_ops = {s.op for s in in_window if s.layer == "recsys"}
    pair_rows = (sum(tot[i].join_rows for i in recsys_ops) / len(recsys_ops)
                 if recsys_ops else 0.0)
    candidates = rows("dedup.band_candidate_pairs", rec.spans)
    walls = {i: roots[i].end - roots[i].start for i in good}
    cpu = cores()
    m = {
        "session.start_s": (setup["session.start_s"], "s"),
        "registry.load_s": (setup["registry.load_s"], "s"),
        "embeddings.index_build_s": (setup.get("embeddings.index_build_s", 0.0), "s"),
        "dedup.labels_build_s": (sum(s.attrs["build_s"] for s in labels) + 0.0, "s"),
        "warmup_s": (setup["warmup_s"], "s"),
        "recsys.plan_s": (self_s("recsys"), "s"),
        "recsys.pair_rows": (pair_rows, "count"),
        "recsys.topk_kept_ratio": (
            layer_mean("recsys.topk_rows") / pair_rows if pair_rows else 0.0, "ratio"),
        "dedup.plan_s": (self_s("dedup"), "s"),
        "dedup.candidate_pairs": (candidates, "count"),
        "dedup.verified_ratio": (
            rows("dedup.portable_verify_pairs", rec.spans) / candidates
            if candidates else 0.0, "ratio"),
        "text.plan_s": (self_s("text"), "s"),
        "text.curated_rows": (rows("text.curated_docs", in_window), "count"),
        "caching.memo_calls": (per_op(1 for _ in memo), "count"),
        "caching.memo_hit_ratio": (
            sum(not s.attrs["built"] for s in memo) / len(memo) if memo else 0.0, "ratio"),
        "caching.build_s": (per_op(s.attrs["build_s"] for s in memo), "s"),
        "caching.cached_bytes": (layer_mean("caching.cached_bytes"), "B"),
        "query.plan_s": (mean_dur("query.plan"), "s"),
        "query.exec_s": (mean_dur("query.exec"), "s"),
        "embeddings.probe_s": (self_s("embeddings"), "s"),
        "streaming.batch_s": (layer_mean("streaming.batch_s"), "s"),
        "streaming.state_bytes": (layer_mean("streaming.state_bytes"), "B"),
        "streaming.state_files": (layer_mean("streaming.state_files"), "count"),
        "sinks.bytes_written": (spark_mean("output_bytes"), "B"),
        "sources.input_rows": (spark_mean("input_rows"), "count"),
        "sources.input_bytes": (spark_mean("input_bytes"), "B"),
        "spark.jobs": (spark_mean("jobs"), "count"),
        "spark.stages": (spark_mean("stages"), "count"),
        "spark.tasks": (spark_mean("tasks"), "count"),
        "spark.task_failures": (spark_mean("task_failures"), "count"),
        "spark.executor_run_s": (spark_mean("run_s"), "s"),
        "spark.executor_cpu_s": (spark_mean("cpu_s"), "s"),
        "spark.gc_s": (layer_mean("spark.gc_s"), "s"),
        "spark.idle_ratio": (
            per_op(1 - tot[i].run_s / (walls[i] * cpu) for i in good), "ratio"),
        "spark.shuffle_write_bytes": (spark_mean("shuffle_write_bytes"), "B"),
        "spark.shuffle_read_bytes": (spark_mean("shuffle_read_bytes"), "B"),
        "spark.spill_bytes": (spark_mean("spill_bytes"), "B"),
        "spark.python_bytes": (spark_mean("python_bytes"), "B"),
        "trace.overhead_s": (overhead_s / n, "s"),
    }
    log("per-operation Spark counters (traced window):")
    for i, t in tot.items():
        log(f"  op {i:>3} {w.op_name(i):<24} wall {walls[i]:7.3f} s  jobs {t.jobs:4d}  "
            f"stages {t.stages:4d}  tasks {t.tasks:5d}  run {t.run_s:7.2f} s  "
            f"cpu {t.cpu_s:7.2f} s  shuffle w {t.shuffle_write_bytes / 1e6:8.1f} MB")
        top = sorted((sid for sid in range(*roots[i].stages) if stages.get(sid, {}).get("tasks")),
                     key=lambda sid: -stages[sid]["run_s"])[:4]
        log("           its longest stages: " + "; ".join(
            f"{sid}: run {stages[sid]['run_s']:.2f} s, shuffle r "
            f"{stages[sid]['shuffle_read'] / 1e6:.1f} MB "
            f"w {stages[sid]['shuffle_write'] / 1e6:.1f} MB"
            for sid in top))
    ex = counters.executor_totals()
    log("executor totals over the whole run: " + ", ".join(
        f"{k}={v:.6g}" for k, v in ex.items()))
    log("self time by layer (traced window, s per operation): " + ", ".join(
        f"{layer}={self_s(layer):.3f}" for layer in
        sorted({s.layer for s in in_window})))
    return m


def main() -> int:
    args = parse_args()
    signal.signal(signal.SIGTERM, on_sigterm)
    try:
        import recsys_mapreduce_mrjob_spark  # noqa: F401
        from tests import parity  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is not importable: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    WORK_DIRS.append(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    from counters import MemorySampler, SparkCounters
    from spans import Recorder
    from workloads import WORKLOADS

    settings = environment(work)
    log("settings: " + ", ".join(f"{k}={v}" for k, v in settings.items()))
    log(WARMUP_RULE)
    setup: dict[str, float] = {}

    t = time.monotonic()
    from recsys_mapreduce_mrjob_spark import registry

    registry.load_all()
    setup["registry.load_s"] = time.monotonic() - t

    w = WORKLOADS[args.workload](work, args.seed)
    t = time.monotonic()
    w.generate()
    gen_s = time.monotonic() - t
    t = time.monotonic()
    w.oracles(registry)
    oracle_s = time.monotonic() - t
    log(f"inputs (seed {args.seed}): {w.sizes}; generated in {gen_s:.2f} s, "
        f"expected results in {oracle_s:.2f} s (both outside setup_s)")

    t = time.monotonic()
    spark = start_session(work)
    setup["session.start_s"] = time.monotonic() - t
    sc = spark.sparkContext
    counters = SparkCounters(spark)

    def set_group(gid, desc):
        if gid is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(gid, desc or gid)

    rec = Recorder(counters, set_group)
    if args.trace:
        log(f"tracing: {rec.install()} package attributes wrapped")
        rec.enabled = True
    memory = MemorySampler(counters)
    memory.start()
    runner = Runner(w, spark, registry, rec, counters)
    try:
        setup.update(w.setup(spark, rec))
        setup["warmup_s"], steps = runner.warmup()
        log(f"warm-up steps (s): {[round(s, 3) for s in steps]}")
        setup_s = time.monotonic() - T_START - gen_s - oracle_s

        rec.enabled = False
        if args.trace:
            ops, traced = runner.paired_window(args.seconds)
            runner.check(ops, timed=True)
            runner.check(traced, timed=True)
            untraced_wall = sum(x for _i, x, _r in ops)
            traced_wall = sum(x for _i, x, _r in traced)
            metrics = per_layer(w, rec, counters, traced, setup,
                                traced_wall - untraced_wall)
            log(f"tracing overhead: traced {traced_wall:.3f} s - untraced "
                f"{untraced_wall:.3f} s = {traced_wall - untraced_wall:+.3f} s over "
                f"{len(traced)} operation pairs "
                f"({(traced_wall - untraced_wall) / untraced_wall:+.1%})")
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            path = os.path.join(out, f"{args.workload}-seed{args.seed}-spans.json")
            with open(path, "w") as f:
                json.dump(rec.dump(), f)
            log(f"spans: {len(rec.spans)} written to {os.path.relpath(path, ROOT)}")
        else:
            memory.reset()
            ops, wall = runner.window(args.seconds)
            peak = memory.finish()
            log(f"memory: {memory.outside_heap / 1e6:.1f} MB peak outside the "
                f"driver heap + {memory.live_heap / 1e6:.1f} MB live heap")
            log(f"timed operations (s): {[round(x, 3) for _i, x, _r in ops]}")
            log("latency samples (s): "
                f"{[round(x, 3) for _i, _x, r in ops if r for x in r.latencies]}")
            runner.check(ops, timed=True)
            metrics = end_to_end(ops, wall, setup_s, peak)
    finally:
        memory.stop()
        stop_session(spark)

    for e in runner.errors:
        print(e, file=sys.stderr)
    fail_ratio = runner.failed / max(runner.attempted, 1)
    listed = result_metrics("per_layer" if args.trace else "end_to_end")
    log(f"{'metric':<28}{'value':>18}  unit")
    for k, (v, u) in metrics.items():
        log(f"{k:<28}{v:>18.6g}  {u}" + ("" if k in listed else
                                         " (printed, not in the result line)"))
    log(f"{'fail_ratio':<28}{fail_ratio:>18.6g}  ratio "
        f"({runner.failed} failed of {runner.attempted} attempted)")
    ok = runner.failed == 0 and runner.attempted > 0
    print(json.dumps({
        "correct": ok,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u.split(",")[0]}
                    for k, (v, u) in metrics.items() if k in listed},
    }), flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
